#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median, quartiles and spread (interquartile distance ÷ median), the
figures the README records and the bounds in BENCHMARK.json are set from.

    python3 perfbench/spread.py --runs 10 --first-seed 100 [--workload audit_cold ...]

Run from the root of a checkout. Raw result lines are appended to
.bench_out/spread-<first-seed>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".bench_out", f"spread-{a.first_seed}.jsonl")
    for w in workloads:
        values, walls, shares = {}, [], set()
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            r = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1], **r}) + "\n")
            shares.add(r["failed"] / r["attempted"])
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{w}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}, "
              f"wall per run median {statistics.median(walls):.1f} s, failed shares {sorted(shares)}")
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            print(f"  {k:15} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {spread:6.2%}  bound {bounds[k]:.0%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
