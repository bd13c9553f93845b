"""Seeded input and request generator for the graft benchmark.

Everything a workload consumes is written here from `--seed` alone, so the
program under test sees only generated files: metric rows as integer cents,
the request sequence a client replays, and (batch_heavy) the parquet tables
the batch rows read. The same seed gives byte-identical files.
"""
import datetime as dt
import json
import os
import random

BASE_NS = 1704067200 * 10**9  # 2024-01-01T00:00:00Z
SEC = 10**9
HOUR = 3600 * SEC
DAY = 24 * HOUR

SERVE_DAYS = 30
SERVE_STEP_S = 30
# Rows sit 2..20 s after each 30 s mark, so a literal on a mark never lands
# within the dialect's one-second literal accuracy of a row.
SERVE_JITTER_MS = (2000, 20000)

# requests per kind in each block; the sequence is shuffled blocks, so every
# prefix of whole blocks has exactly these shares. No traffic record of the
# reference exists to derive shares from, so every kind has the same weight.
SERVE_MIX = [
    ("range_1h", 1), ("arrow_range", 1), ("head_limit", 1),
    ("tail_limit", 1), ("day_nocache", 1), ("describe", 1),
    ("block_list", 1), ("metrics", 1), ("route_coarse", 1),
    ("route_fine", 1),
]
SERVE_WARM_BLOCKS = 3
SERVE_BLOCKS = 600

INGEST_STEP_S = 10
INGEST_JITTER_MS = (1500, 8500)
INGEST_BATCH = 100
INGEST_READ_HOURS = (1, 3, 6)
INGEST_READ_STRATA = 3


def lit(ns, with_time=True):
    t = dt.datetime.fromtimestamp(ns // SEC, dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S" if with_time else "%Y-%m-%d")


def _cents(r):
    return r.randint(-500000, 500000)


def _rows(r, start_ns, count, step_s, jitter_ms):
    out = []
    for i in range(count):
        ts = start_ns + i * step_s * SEC + r.randrange(*jitter_ms) * 10**6
        out.append((ts, _cents(r), _cents(r), _cents(r)))
    return out


def _write_rows(path, rows):
    with open(path, "w") as f:
        f.writelines("%d,%d,%d,%d\n" % row for row in rows)


def _write_jsonl(path, items):
    with open(path, "w") as f:
        f.writelines(json.dumps(it, sort_keys=True) + "\n" for it in items)


def _serve_request(r, kind):
    hours = SERVE_DAYS * 24
    if kind in ("range_1h", "arrow_range"):
        since = BASE_NS + r.randrange(hours) * HOUR
        q = "select * from m where ts in ('%s', +1 hours);" % lit(since)
        body = {"query": q}
        if kind == "arrow_range":
            body["format"] = "arrow"
        return {"kind": kind, "line": json.dumps(body), "since": since,
                "until": since + HOUR}
    if kind in ("head_limit", "tail_limit"):
        at = BASE_NS + r.randrange(SERVE_DAYS * DAY // (SERVE_STEP_S * SEC)) \
            * SERVE_STEP_S * SEC
        n = r.randint(5, 50)
        op = ">=|%d" if kind == "head_limit" else "<=|%d"
        q = "select * from m where ts %s '%s';" % (op % n, lit(at))
        return {"kind": kind, "line": json.dumps({"query": q}), "at": at,
                "n": n}
    if kind == "day_nocache":
        since = BASE_NS + r.randrange(SERVE_DAYS) * DAY
        q = ("with use_cache = false select * from m where ts in ('%s', "
             "+1 day);" % lit(since, with_time=False))
        return {"kind": kind, "line": json.dumps({"query": q}),
                "since": since, "until": since + DAY}
    if kind in ("describe", "block_list"):
        q = "select * from .%s where metrics = m;" % kind
        return {"kind": kind, "line": json.dumps({"query": q})}
    if kind == "metrics":
        return {"kind": kind, "line": json.dumps({"query": "select * from .metrics;"})}
    span_days, points = (7, 48) if kind == "route_coarse" else (1, 500)
    since = BASE_NS + r.randrange((SERVE_DAYS - span_days) * 24 + 1) * HOUR
    until = since + span_days * DAY
    body = {"maxPoints": points, "since": since, "until": until,
            "store": "$ROLLUP", "raw": "$RAW"}
    return {"kind": kind, "line": json.dumps(body), "since": since,
            "until": until, "n": points}


def gen_serve(out, seed):
    r = random.Random("serve_mixed/%d" % seed)
    _write_rows(os.path.join(out, "rows.csv"),
                _rows(r, BASE_NS, SERVE_DAYS * DAY // (SERVE_STEP_S * SEC),
                      SERVE_STEP_S, SERVE_JITTER_MS))
    def blocks(n):
        seq = []
        for _ in range(n):
            block = [k for k, c in SERVE_MIX for _ in range(c)]
            r.shuffle(block)
            seq += [_serve_request(r, k) for k in block]
        return seq
    # the untimed warm pass runs the same mix before timing starts
    _write_jsonl(os.path.join(out, "warm.jsonl"), blocks(SERVE_WARM_BLOCKS))
    _write_jsonl(os.path.join(out, "requests.jsonl"), blocks(SERVE_BLOCKS))


def gen_ingest(out, seed, seconds):
    r = random.Random("ingest_read/%d" % seed)
    day_rows = DAY // (INGEST_STEP_S * SEC)
    # one persisted day before timing starts, then the pushed batches
    batches = max(800, 60 * seconds)
    rows = _rows(r, BASE_NS, day_rows + batches * INGEST_BATCH,
                 INGEST_STEP_S, INGEST_JITTER_MS)
    _write_rows(os.path.join(out, "base.csv"), rows[:day_rows])
    _write_rows(os.path.join(out, "batches.csv"), rows[day_rows:])
    # reads in shuffled blocks of every (length, third of the persisted
    # span) pair, so any stretch of reads has nearly the same composition
    reads = []
    while len(reads) < 20000:
        block = [{"hours": h, "frac": (k + r.random()) / INGEST_READ_STRATA}
                 for h in INGEST_READ_HOURS for k in range(INGEST_READ_STRATA)]
        r.shuffle(block)
        reads += block
    _write_jsonl(os.path.join(out, "reads.jsonl"), reads)


def generate(workload, out, seed, seconds):
    os.makedirs(out, exist_ok=True)
    if workload == "serve_mixed":
        gen_serve(out, seed)
    elif workload == "ingest_read":
        gen_ingest(out, seed, seconds)
    elif workload in ("batch_heavy", "batch_minhash"):
        import genbatch
        genbatch.generate(out, seed)
    else:
        raise ValueError("unknown workload %r" % workload)
