#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt, in
perfbench/), then runs graft.perfbench.Main in one JVM. Everything it
writes stays under .bench_build/ in the checkout. The last line of
standard output is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Log lines before it give the figures
that are not metrics (failed_frac, tail latency, rows/s, storage
ratio, tracing overhead). Exits non-zero without a result when the
program cannot be built or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_daily", "stream_late_upsert", "query_mix")
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the up-to-date check."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile through sbt when any source changed; returns the java
    command prefix (options and classpath)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no program sources (build.sbt, src/main/scala) "
                         "in the checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    opts_file = os.path.join(HERE, "target", "java-options.txt")
    fresh = (os.path.isfile(stamp) and os.path.isfile(cp_file)
             and os.path.isfile(opts_file) and open(stamp).read() == h.hexdigest())
    if not fresh:
        log("building program and benchmark with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                           f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}").strip()
        t = time.time()
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "writeClasspath"],
                             cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                             stdin=subprocess.DEVNULL, timeout=850)
        if rc != 0 or not os.path.isfile(cp_file):
            raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
        os.makedirs(BUILD, exist_ok=True)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
        log(f"build took {time.time() - t:.1f} s")
    with open(opts_file) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    with open(cp_file) as f:
        cp = f.read().strip()
    return ["java"] + opts + ["-Xmx3g", "-cp", cp]


WANT = {}


def expect_oracle(work, proc):
    """Runs the DuckDB oracle while the JVM warms up: waits for the SQL
    the JVM publishes, computes every expected result into WANT, then
    writes the marker the JVM waits for before it measures."""
    sys.path.insert(0, HERE)
    import oracle
    sql_file = os.path.join(work, "results", "oracle_sql.json")
    while not os.path.isfile(sql_file):
        if proc.poll() is not None:
            return
        time.sleep(0.05)
    with open(sql_file) as f:
        WANT.update(oracle.expected(os.path.join(work, "tables"), json.load(f)))
    open(os.path.join(work, "oracle.done"), "w").close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    java = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "query_mix":
        sys.path.insert(0, HERE)
        import tables
        tables.write(os.path.join(work, "tables"), a.seed)
    out = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = java[:1] + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + java[1:] + [
        "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
        "--work", work, "--out", out]
    t = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    oracle_run = None
    if a.workload == "query_mix":
        oracle_run = threading.Thread(target=expect_oracle, args=(work, proc), daemon=True)
        oracle_run.start()
    # a terminated launcher takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    try:
        rc = proc.wait(timeout=RUN_LIMIT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: run did not finish in time")
    if rc != 0 or not os.path.isfile(out):
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    log(f"benchmark JVM took {time.time() - t:.1f} s")
    with open(out) as f:
        res = json.load(f)

    steps = res["steps"]
    if oracle_run:
        oracle_run.join()
        import oracle
        bad = oracle.compare(os.path.join(work, "results"), WANT)
        for name, why in sorted(bad.items()):
            res["log"].append(f"FAIL oracle {name}: {why}")
        for s in steps:
            s["ok"] = s["ok"] and s["name"] not in bad
        res["failed"] = sum(1 for s in steps if not s["ok"])
        res["correct"] = res["correct"] and not bad
        res["log"].append(f"oracle: {len(bad)} of {len({s['name'] for s in steps})} "
                          "queries differ from DuckDB")

    traces = os.path.join(BUILD, "traces")
    for f in os.listdir(work):
        if f.startswith("trace-"):
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(work, f), os.path.join(traces, f))
    shutil.rmtree(work, ignore_errors=True)

    for line in res["log"]:
        print(line)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
