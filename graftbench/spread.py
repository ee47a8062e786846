#!/usr/bin/env python3
"""Run one workload over several seeds and summarize each metric.

Usage (from the repository root):
    python3 graftbench/spread.py --workload serve --seeds 1,2,3,4,5 \
        [--seconds S] [--trace 0] [--out runs.jsonl]

--seconds defaults to run_seconds of BENCHMARK.json.

For every metric prints the median, first and third quartiles
(statistics.quantiles, n=4) and the quartile spread as a share of the
median; also the wall time of each run. Medians and quartiles over all runs,
never a best run.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open("BENCHMARK.json"))["run_seconds"])
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs, walls = [], []
    for seed in a.seeds.split(","):
        t0 = time.time()
        p = subprocess.run([sys.executable, "graftbench/run.py", "--workload", a.workload,
                            "--seed", seed, "--seconds", str(a.seconds), "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}")
            continue
        res = json.loads(lines[-1])
        res["seed"] = seed
        res["host"] = json.loads(lines[-2])["host"] if len(lines) > 1 else {}
        runs.append(res)
        print(f"seed {seed}: {walls[-1]:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    if not runs:
        return 1
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = vals[0]
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:45s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
