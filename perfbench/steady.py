#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same commit.

    python3 perfbench/steady.py [--runs 10] [--workloads api-read,ingest-hourly]

Run from the checkout's root. Each set runs every workload `--runs` times,
each run with its own seed (set A seeds 1..N, set B seeds 101..100+N), for
BENCHMARK.json's `run_seconds`. For every (workload, end-to-end metric) it
prints each set's median and quartiles, the spread (quartile distance over
the median) and whether the sets agree: the spread stays within the
metric's bound (setup_s excepted), set B's median is not worse than set
A's by more than the bound, and the failed share is the same in both.
Raw figures go to perfbench/.work/steady-<time>.json. Exits 1 on any
disagreement.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, timeout=200)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    raw = {}
    for workload in args.workloads.split(","):
        for set_name, base in (("A", 0), ("B", 100)):
            for i in range(1, args.runs + 1):
                t0 = time.time()
                r = one_run(workload, base + i, bench["run_seconds"])
                raw.setdefault(workload, {}).setdefault(set_name, []).append(r)
                print(f"{workload} set {set_name} seed {base + i}: {time.time() - t0:.0f} s, "
                      f"{r['attempted']} ops, {r['failed']} failed", file=sys.stderr)
    ok = True
    for workload, sets in raw.items():
        shares = {s: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                  for s, rs in sets.items()}
        print(f"\n{workload}: failed share A {shares['A']:.4f}  B {shares['B']:.4f}")
        ok &= shares["A"] == shares["B"]
        for name, m in metrics.items():
            a, b = (summary([r["metrics"][name]["value"] for r in sets[s]]) for s in "AB")
            worse = (b["median"] - a["median"]) / a["median"]
            if m["better"] == "higher":
                worse = -worse
            agree = worse <= m["bound"] and (name == "setup_s" or
                                             max(a["spread"], b["spread"]) <= m["bound"])
            ok &= agree
            print(f"  {name:12s} A {a['median']:10.3f} [{a['q1']:.3f}, {a['q3']:.3f}] "
                  f"spread {a['spread']:.3f} | B {b['median']:10.3f} [{b['q1']:.3f}, "
                  f"{b['q3']:.3f}] spread {b['spread']:.3f} | B worse by {worse:+.3f} "
                  f"(bound {m['bound']}) {'agree' if agree else 'DISAGREE'}")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", f"steady-{int(time.time())}.json"), "w") as fh:
        json.dump(raw, fh)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
