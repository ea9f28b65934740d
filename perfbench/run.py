#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload api-read --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline) into `perfbench/target`; later runs
reuse that build while the sources are unchanged. Each run generates its
inputs from `--seed`, starts one JVM (`perfbench.Harness`), checks the
program's answers against DuckDB and the generator's records, and prints
one JSON line last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (setup_s, op_p50_ms,
op_p90_ms, ops_per_s, peak_rss_mb). With `--trace 1` they are the
per-layer ones, and the spans go to `perfbench/.work/trace-<workload>-<seed>.json`.
`PERFBENCH_WRONG=<check>` hands one check a deliberately wrong answer
(see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True          # write nothing next to the sources
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("api-read", "ingest-hourly", "query-surface")
XMX = "2g"                      # same heap on both sides of every comparison
JVM_TIMEOUT_S = 150             # the whole run must end within 180 s
WORK = os.path.join(HERE, ".work")

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]



def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile program + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala: run from a checkout's root")
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             timeout=800)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def run_jvm(cp, args, work):
    inputs = os.path.join(work, "inputs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # a fixed heap: the JVM does not resize it mid-run, so GC work and the
    # resident set do not swing with when it happened to grow
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Harness", args.workload, str(args.seed),
           str(args.seconds), str(args.trace), inputs, work, str(cores)]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness did not finish within {JVM_TIMEOUT_S} s; see {log.name}")
    finally:
        log.close()
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")
    return json.load(open(res))


def quantile(xs, q):
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    cp = build(root)
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))

    t_start = time.time()               # set-up starts once the build is in place
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        if args.workload == "query-surface":
            gen.tables(inputs, gen.QUERY_TABLES_SEED)
        elif args.workload == "api-read":
            gen.weather(inputs, args.seed)
        else:
            os.makedirs(inputs)
        res = run_jvm(cp, args, work)
        verdict = checks.check(args.workload, res, work)
        if args.trace:
            keep = {k: res[k] for k in ("workload", "layers", "spans") if k in res}
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(keep, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["op_ms"]
    if args.trace:
        # a layer the workload never calls reads 0 (its prediction: no move)
        values = res["layers"]
        wanted = bench["per_layer"]
    else:
        values = {"setup_s": res["first_op_epoch_ms"] / 1000.0 - t_start,
                  "op_p50_ms": quantile(ops, 0.5), "op_p90_ms": quantile(ops, 0.9),
                  "ops_per_s": len(ops) / res["wall_s"], "peak_rss_mb": res["peak_rss_mb"]}
        wanted = bench["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    for line in verdict["problems"][:20]:
        print(f"check: {line}", file=sys.stderr)
    print("warm-up s: " + " ".join(f"{x:.2f}" for x in res["warmup_s"]), file=sys.stderr)
    print("ops ms: " + " ".join(f"{x:.0f}" for x in ops), file=sys.stderr)
    print(json.dumps({"correct": verdict["correct"], "attempted": res["attempted"],
                      "failed": verdict["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
