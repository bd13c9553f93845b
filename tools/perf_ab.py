#!/usr/bin/env python3
"""Paired A/B of two git revisions on one benchmark workload.

    python3 tools/perf_ab.py --base <rev> --change <rev>
        --workload <name> [--pairs 10] [--seed 1] [--seconds 8] [--trace 0]
        [--workdir DIR] [--out results.json]

Exports each revision's tree (`git archive`) into its own temporary
checkout, then runs `python3 perfbench/run.py` in the two checkouts in
alternating order (pair i runs base first when i is even, change first when
it is odd), so drift in the host's speed falls on both sides alike. Each
checkout builds and runs only its own files; nothing in this repository is
written. For every metric it prints each side's median and quartiles
(nearest rank, the benchmark's percentile rule), the pairs each side won,
and the verdict of the paired rule: the change gains only when it wins at
least nine tenths of the pairs (ties count for neither) and the medians
differ by more than the base's quartile distance. A metric whose change
median is worse than the base's by more than its BENCHMARK.json bound is
flagged. Runs that fail or report failed ops are counted per side.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quantile(values, q):
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values):
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def export(rev, dest):
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
    if archive.wait() != 0:
        raise SystemExit("git archive %s failed" % rev)


def run_once(tree, args):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return {"exit": p.returncode, "failed": None, "metrics": {}}
    res = json.loads(lines[-1])
    return {"exit": p.returncode, "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def directions():
    """metric -> (better, bound or None) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = {}
    for m in bench.get("end_to_end", []) + bench.get("per_layer", []):
        out[m["name"]] = (m["better"], m.get("bound"))
    return out


def verdict(base, change, better, bound):
    """(change wins, base wins, summary) over the paired runs."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(base, change) if sign * (b - a) > 0)
    losses = sum(1 for a, b in zip(base, change) if sign * (b - a) < 0)
    mb, mc = median(base), median(change)
    iqr = quantile(base, 0.75) - quantile(base, 0.25)
    if wins >= math.ceil(0.9 * len(base)) and abs(mc - mb) > iqr \
            and sign * (mc - mb) > 0:
        text = "gain"
    elif bound is not None and mb and sign * (mc - mb) / abs(mb) < -bound:
        text = "WORSE than bound %.2f" % bound
    else:
        text = "no claim"
    return wins, losses, text


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir")
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    work = args.workdir or tempfile.mkdtemp(prefix="perf_ab-")
    trees = {"base": os.path.join(work, "base"),
             "change": os.path.join(work, "change")}
    runs = {"base": [], "change": []}
    try:
        for side in trees:
            shutil.rmtree(trees[side], ignore_errors=True)
            export(getattr(args, side), trees[side])
        for i in range(args.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_once(trees[side], args)
                runs[side].append(r)
                print("pair %d %-6s exit=%s failed=%s %s" % (
                    i + 1, side, r["exit"], r["failed"], json.dumps(
                        {k: round(v, 3) for k, v in r["metrics"].items()})),
                    file=sys.stderr, flush=True)
    finally:
        if not args.workdir:
            shutil.rmtree(work, ignore_errors=True)

    dirs = directions()
    ok = [i for i in range(args.pairs)
          if runs["base"][i]["metrics"] and runs["change"][i]["metrics"]]
    print("%s seed %d, %d s runs, %d pairs (%d complete); base %s, change %s"
          % (args.workload, args.seed, args.seconds, args.pairs, len(ok),
             args.base, args.change))
    for side in ("base", "change"):
        print("  %-6s runs with failed ops or errors: %d" % (side, sum(
            1 for r in runs[side] if r["failed"] != 0 or r["exit"] != 0)))
    names = sorted(set().union(*(runs["base"][i]["metrics"] for i in ok))) \
        if ok else []
    print("%-40s %-28s %-28s %5s %5s  %s" % (
        "metric", "base median [q1, q3]", "change median [q1, q3]",
        "chg", "base", "verdict"))
    for name in names:
        a = [runs["base"][i]["metrics"][name] for i in ok]
        b = [runs["change"][i]["metrics"][name] for i in ok]
        better, bound = dirs.get(name, ("lower", None))
        wins, losses, text = verdict(a, b, better, bound)
        fmt = lambda v: "%.4g [%.4g, %.4g]" % (
            median(v), quantile(v, 0.25), quantile(v, 0.75))
        print("%-40s %-28s %-28s %5d %5d  %s" % (
            name, fmt(a), fmt(b), wins, losses, text))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"args": vars(args), "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
