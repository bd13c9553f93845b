"""Turns the harness's raw samples into the benchmark's metrics.

End-to-end metrics come from the untraced run only; per-layer metrics from
the traced run only. Every metric named in BENCHMARK.json is reported on
every workload: a per-layer metric of a layer the workload does not
exercise reads 0.
"""
import json

import gen
import stats

ROOT_SPEC = "BENCHMARK.json"
BATCH_ROWS = ("graph_triangles", "pipeline_train_prep", "pipeline_curate",
              "dedup_jaccard_pairs", "dedup_minhash_lsh", "tpch_q9")
SERVE_BLOCK = sum(n for _, n in gen.SERVE_MIX)
SERVE_KINDS = tuple(k for k, _ in gen.SERVE_MIX)


def spec():
    with open(ROOT_SPEC) as f:
        return json.load(f)


def _phase(raw, phase, op):
    return [o for o in raw["ops"] if o["phase"] == phase and o["op"] == op]


def _seconds(raw, phase, end_key=None):
    v = raw["values"]
    return (v[end_key or phase + ".end_ns"] - v[phase + ".start_ns"]) / 1e9


def _ms(o):
    return (o["end_ns"] - o["start_ns"]) / 1e6


def setup_parts(raw):
    """Set-up seconds by part; a part the workload lacks reads 0. Input
    generation runs several times and `run.py` records its median."""
    def part(name):
        return sum(raw["setup"].get(name, []))
    return {
        "setup.session_s": part("session_s"),
        "setup.generate_s": part("generate_s") + part("load_s"),
        "setup.store_build_s": part("store_build_s"),
        "setup.rollup_build_s": part("rollup_build_s"),
        "setup.warm_s": part("warm_s"),
    }


def whole_blocks(ops, block):
    """The ops of the longest prefix of whole request blocks that all ran,
    so every run measures the same request mix; all ops if no block did."""
    ran = {o["seq"] for o in ops}
    n = 0
    while all(i in ran for i in range(n, n + block)):
        n += block
    return [o for o in ops if o["seq"] < n] if n else ops


def foreground(workload, raw):
    """The timed foreground ops, their measured seconds, and the rows the
    workload moved in that time."""
    if workload == "serve_mixed":
        ops = whole_blocks(_phase(raw, "timed", "request"), SERVE_BLOCK)
        secs = (max(o["end_ns"] for o in ops) -
                raw["values"]["timed.start_ns"]) / 1e9
        moved = sum(o["rows"] for o in ops if o["ok"])
    elif workload == "ingest_read":
        ops = _phase(raw, "timed", "read")
        secs = _seconds(raw, "timed")
        pushes = _phase(raw, "timed", "push")
        moved = sum(o["rows"] for o in pushes if o["ok"])
        moved_secs = _seconds(raw, "timed", "writer.end_ns")
        return ops, secs, moved / moved_secs
    else:
        ops = _phase(raw, "timed", "row")
        secs = _seconds(raw, "timed")
        moved = sum(o["rows"] for o in ops if o["ok"])
    return ops, secs, moved / secs


def end_to_end(workload, raw):
    ops, secs, rows_per_s = foreground(workload, raw)
    _, _, lat, _ = stats.account(ops)
    if not lat:
        raise SystemExit("no successful timed operation")
    # CPU over the whole timed window, so per op over every op in it
    timed = [o for o in raw["ops"] if o["phase"] == "timed" and o["ok"]
             and o["op"] == ops[0]["op"]]
    m = {
        "setup_s": sum(setup_parts(raw).values()),
        # every kind weighs the same, whatever its share of the ops
        "kind_p50_ms": stats.geomean(list(stats.kind_p50s(ops).values())),
        "ops_per_s": len(lat) / secs,
        "rows_per_s": rows_per_s,
        "cpu_ms_per_op": (raw["values"]["timed.end_cpu_ns"] -
                          raw["values"]["timed.start_cpu_ns"]) / 1e6 / len(timed),
    }
    return _with_units(m, "end_to_end")


def _with_units(values, section):
    out = {}
    for d in spec()[section]:
        name = d["name"]
        if section == "end_to_end" and name not in values:
            raise SystemExit("metric %s was not measured" % name)
        out[name] = (float(values.get(name, 0.0)), d["unit"])
    return out


def _span_p50(spans, selfs, name, kinds=None):
    xs = [selfs[s["id"]] / 1e6 for s in spans if s["name"] == name and
          (kinds is None or s["kind"] in kinds)]
    return stats.percentile(xs, 0.5) if xs else 0.0


def _jobs(groups, prefix, suffixes=("frame", "render")):
    return sum(groups.get("%s/%s" % (prefix, s), {}).get("jobs", 0)
               for s in suffixes)


def _read_layers(raw, phase, m):
    """ql / spark / storage-read metrics over traced requests of `phase`."""
    groups = raw["groups"]
    spans = [s for s in raw["spans"] if s["req"].startswith(phase + "-")]
    selfs = stats.self_times(spans)
    ops = [o for o in raw["ops"] if o["phase"] == phase and o.get("req")]
    dialect = [o for o in ops if not o["kind"].startswith("route_")]
    routed = [o for o in ops if o["kind"].startswith("route_")]
    m["ql.interpret_ms"] = _span_p50(spans, selfs, "ql.interpret")
    m["ql.frame_ms"] = _span_p50(spans, selfs, "ql.frame")
    m["spark.plan_ms"] = _span_p50(spans, selfs, "spark.plan")
    m["ql.render_ms"] = _span_p50(spans, selfs, "ql.render")
    if dialect:
        m["ql.frame_jobs"] = sum(_jobs(groups, o["req"], ("frame",))
                                 for o in dialect) / len(dialect)
    if ops:
        m["ql.jobs_per_query"] = sum(_jobs(groups, o["req"])
                                     for o in ops) / len(ops)
        files = [o["files"] for o in ops if o["files"] >= 0]
        if files:
            m["storage.files_scanned_per_query"] = sum(files) / len(files)
        scanned = sum(groups.get("%s/%s" % (o["req"], s), {})
                      .get("input_records", 0)
                      for o in ops for s in ("frame", "render"))
        returned = sum(o["rows"] for o in ops if o["ok"])
        if returned:
            m["storage.rows_scanned_per_row_returned"] = scanned / returned
    if routed:
        m["rollup.route_ms"] = _span_p50(spans, selfs, "rollup.route")
        m["rollup.jobs_per_route"] = sum(_jobs(groups, o["req"])
                                         for o in routed) / len(routed)
    m["storage.data_files"] = raw["values"].get("data_files", 0)
    return spans, selfs


def _serve_layers(raw, m):
    spans, selfs = _read_layers(raw, "traced", m)
    traced = [o for o in raw["ops"] if o["phase"] == "traced" and o["ok"]]
    inproc = [_ms(o) for o in raw["ops"] if o["phase"] == "inproc" and o["ok"]]
    tcp = [o for o in raw["ops"] if o["phase"] == "tcp1" and o["ok"]]
    hits = [o["cache_hit"] for o in traced if "cache_hit" in o]
    if hits:
        m["storage.cache_hit_ratio"] = sum(hits) / len(hits)
    desc = [_ms(o) for o in traced if o["kind"] == "describe"]
    if desc:
        m["storage.describe_ms"] = stats.percentile(desc, 0.5)
    if traced and inproc:
        m["bench.tracing_overhead_ratio"] = (
            stats.percentile([_ms(o) for o in traced], 0.5) /
            stats.percentile(inproc, 0.5))
    over, weight, table = 0.0, 0, []
    for k in SERVE_KINDS:
        rtt = [_ms(o) for o in tcp if o["kind"] == k]
        inp = [_ms(o) for o in traced if o["kind"] == k]
        if not rtt:
            continue
        m["kind.%s.p50_ms" % k] = stats.percentile(rtt, 0.5)
        if inp:
            o_k = stats.percentile(rtt, 0.5) - stats.percentile(inp, 0.5)
            over += o_k * len(rtt)
            weight += len(rtt)
            layer = {n: _span_p50(spans, selfs, n, (k,))
                     for n in ("request", "ql.interpret", "ql.frame",
                               "rollup.route", "spark.plan", "ql.render")}
            table.append((k, len(rtt), stats.percentile(rtt, 0.5),
                          stats.percentile(inp, 0.5), o_k, layer))
    if weight:
        m["server.overhead_ms"] = over / weight
    raw["_kind_table"] = table


def _ingest_layers(raw, m):
    _read_layers(raw, "timed", m)
    v = raw["values"]
    groups = raw["groups"]
    pushes = [o for o in raw["ops"] if o["phase"] == "timed" and o["op"] == "push"]
    persists = [o for o in raw["ops"] if o["phase"] == "timed"
                and o["op"] == "persist" and o["ok"]]
    _, _, push_lat, _ = stats.account(pushes)
    if push_lat:
        m["storage.push_p50_ms"] = stats.percentile(push_lat, 0.5)
        m["storage.push_p99_ms"] = stats.percentile(push_lat, 0.99)
    m["storage.ingest_rows_per_s"] = foreground("ingest_read", raw)[2]
    if persists:
        pm = [_ms(o) for o in persists]
        m["storage.persist_ms_p50"] = stats.percentile(pm, 0.5)
        m["storage.persist_ms_max"] = max(pm)
        m["storage.persist_jobs"] = sum(
            groups.get("persist-%d" % i, {}).get("jobs", 0)
            for i in range(len(persists))) / len(persists)
    m["storage.journal_files_max"] = v.get("journal_files_max", 0)
    m["storage.journal_rewrites"] = v.get("journal_rewrites", 0)
    jb = v.get("journal_bytes_per_row") or []
    if jb:
        m["storage.journal_bytes_per_row"] = sum(jb) / len(jb)
    fields, rows = v.get("fields", 3), v.get("rows_stored", 0)
    if rows:
        m["storage.bytes_per_user_byte"] = stats.bytes_per_user_byte(
            v["bytes_after_persist"], rows, fields)
        if "bytes_after_compact" in v:
            m["storage.bytes_after_compact_per_user_byte"] = \
                stats.bytes_per_user_byte(v["bytes_after_compact"], rows,
                                          fields)
    for o in raw["ops"]:
        if o["phase"] == "recover" and o["ok"]:
            if o["op"] == "compact":
                m["storage.compact_ms"] = _ms(o)
            elif o["op"] == "reopen":
                m["storage.reopen_ms"] = _ms(o)
    m["storage.replayed_rows"] = v.get("replayed_rows", 0)


def _batch_layers(raw, m):
    groups = raw["groups"]
    for row in BATCH_ROWS:
        times = [_ms(o) / 1e3 for o in raw["ops"] if o["phase"] == "timed"
                 and o["op"] == "row" and o["kind"] == row and o["ok"]]
        if times:
            m["job_s." + row] = stats.median(times)
        gs = [g for k, g in groups.items() if k.startswith("row/%s/" % row)]
        if not gs:
            continue
        n = float(len(gs))
        m["spark.jobs." + row] = sum(g["jobs"] for g in gs) / n
        m["spark.stages." + row] = sum(g["stages"] for g in gs) / n
        m["spark.tasks." + row] = sum(g["tasks"] for g in gs) / n
        m["spark.task_time_s." + row] = \
            sum(g["task_time_ms"] for g in gs) / n / 1e3
        m["spark.input_mb." + row] = sum(g["input_bytes"] for g in gs) / n / 1e6
        m["spark.shuffle_write_mb." + row] = \
            sum(g["shuffle_write_bytes"] for g in gs) / n / 1e6
        m["spark.spill_mb." + row] = sum(g["spill_bytes"] for g in gs) / n / 1e6
        m["spark.max_stage_skew." + row] = max(g["max_stage_skew"] for g in gs)
        m["spark.single_task_stage_s." + row] = \
            sum(g["single_task_stage_ms"] for g in gs) / n / 1e3


def per_layer(workload, raw):
    m = dict(setup_parts(raw))
    {"serve_mixed": _serve_layers, "ingest_read": _ingest_layers,
     "batch_heavy": _batch_layers,
     "batch_minhash": _batch_layers}[workload](raw, m)
    return _with_units(m, "per_layer")


def print_table(workload, raw, metrics, out):
    """Human-readable report: every metric with its unit, plus sample
    counts and the tail percentile the sample supports."""
    print("== %s" % workload, file=out)
    if "_kind_table" not in raw:
        ops, secs, _ = foreground(workload, raw) if any(
            o["phase"] == "timed" for o in raw["ops"]) else ([], 0, 0)
        if ops:
            _, _, lat, _ = stats.account(ops)
            q = stats.tail_percentile(len(lat))
            print("samples: %d ok of %d timed ops in %.1f s; tail rule: %s"
                  % (len(lat), len(ops), secs,
                     "p%g = %.2f ms" % (q * 100, stats.percentile(lat, q))
                     if q else "fewer than 10 samples beyond the median"),
                  file=out)
            kinds = sorted({o["kind"] for o in ops})
            for k in kinds:
                ks = [_ms(o) for o in ops if o["kind"] == k and o["ok"]]
                if ks:
                    print("  %-20s n=%-4d p50 %8.2f ms" %
                          (k, len(ks), stats.percentile(ks, 0.5)), file=out)
    else:
        print("%-13s %5s %9s %9s %9s | self p50 ms: request interpret "
              "frame route plan render" % ("kind", "n", "rtt_p50",
                                           "traced", "overhead"), file=out)
        for k, n, rtt, inp, o_k, layer in raw["_kind_table"]:
            print("%-13s %5d %9.2f %9.2f %9.2f | %s" % (
                k, n, rtt, inp, o_k, " ".join(
                    "%.2f" % layer[x] for x in ("request", "ql.interpret",
                                                "ql.frame", "rollup.route",
                                                "spark.plan", "ql.render"))),
                  file=out)
    for name, (value, unit) in metrics.items():
        print("  %-44s %14.4f %s" % (name, value, unit), file=out)
