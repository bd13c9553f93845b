#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py
        --workload <serve_mixed|ingest_read|batch_heavy|batch_minhash>
        --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. It compiles graft's sources and the harness
in `perfbench/scala` with the Scala compiler shipped in Spark's jars (no
build tool, nothing downloaded) into `.bench_build/`, generates the
workload's inputs from the seed, runs the harness, checks every answer, and
prints a table followed by one JSON line. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Any failed operation
makes the exit code 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve_mixed", "ingest_read", "batch_heavy", "batch_minhash")
DEFAULT_SEED = 1  # seed 7919 is reserved for confirming later claims
BUILD = ".bench_build"
JVM_TIMEOUT_S = 170
GENERATIONS = 3
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else next to `spark-submit`."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("no Scala compiler under %s" % jars)
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, salt):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out, srcs):
    comp = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
            if n.startswith(("scala-compiler-", "scala-library-",
                             "scala-reflect-"))]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode("utf-8", "replace")[-4000:])
        raise SystemExit("compile failed: %s" % out)


def build(jars):
    """Compile graft and the harness unless the stamped sources match."""
    main_src = sources("src/main/scala")
    if not main_src:
        raise SystemExit("no graft sources under src/main/scala")
    bench_src = sources(os.path.join(HERE, "scala"))
    targets = [("classes", main_src, jars + "/*"),
               ("bench-classes", bench_src,
                os.path.join(BUILD, "classes") + ":" + jars + "/*")]
    salt = ""
    for name, srcs, cp in targets:
        out = os.path.join(BUILD, name)
        stamp = out + ".stamp"
        salt = digest(srcs, salt + jars)
        if os.path.exists(stamp) and open(stamp).read() == salt:
            continue
        t = time.time()
        scalac(jars, cp, out, srcs)
        with open(stamp, "w") as f:
            f.write(salt)
        log("compiled %s in %.0f s" % (name, time.time() - t))


def run_jvm(jars, args, inputs, work, out):
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([os.path.join(BUILD, "bench-classes"),
                   os.path.join(BUILD, "classes"), jars + "/*"])
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xms3g", "-Xmx3g", "-Dio.netty.tryReflectionSetAccessible=true",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(tmp, "hadoop"),
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--inputs", inputs, "--work", work,
            "--out", out, "--seconds", str(args.seconds),
            "--trace", str(args.trace)]
    logf = os.path.join(BUILD, "logs", "%s.log" % args.workload)
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM or Ctrl-C: the harness never outlives run.py
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(logf, errors="replace") as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit("harness exited with %s" % code)


def main(argv):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    jars = spark_jars()
    build(jars)
    inputs = os.path.abspath(os.path.join(BUILD, "inputs", args.workload))
    work = os.path.abspath(os.path.join(BUILD, "work", args.workload))
    out = os.path.abspath(os.path.join(BUILD, "out-%s.json" % args.workload))
    for d in (inputs, work):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(out):
        os.remove(out)
    # input generation runs several times; its median is the set-up figure
    gen_s = []
    for _ in range(GENERATIONS):
        shutil.rmtree(inputs, ignore_errors=True)
        t = time.time()
        gen.generate(args.workload, inputs, args.seed, args.seconds)
        gen_s.append(time.time() - t)
    t = time.time()
    run_jvm(jars, args, inputs, work, out)
    log("generated inputs in %.1f s, harness ran %.1f s"
        % (sum(gen_s), time.time() - t))
    with open(out) as f:
        raw = json.load(f)
    raw["setup"].setdefault("generate_s", []).insert(0, stats.median(gen_s))
    if args.workload.startswith("batch_"):
        raw["oracle"] = oracle.check(raw)

    attempted, failed, _, failures = stats.account(raw["ops"])
    if "oracle" in raw:
        attempted += raw["oracle"]["attempted"]
        failed += raw["oracle"]["failed"]
        failures.update(raw["oracle"]["failures"])
    if args.trace:
        metrics = layers.per_layer(args.workload, raw)
    else:
        metrics = layers.end_to_end(args.workload, raw)
    layers.print_table(args.workload, raw, metrics, sys.stdout)
    for op, errs in sorted(failures.items()):
        print("FAILED %s x%d: %s" % (op, len(errs), errs[0]))
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
