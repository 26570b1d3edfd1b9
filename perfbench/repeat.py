#!/usr/bin/env python3
"""Run one workload once per seed, in sequence, and report each end-to-end
metric's median and quartiles (`statistics.quantiles(values, n=4)`) with
the spread (Q3 - Q1) / median.

    python3 perfbench/repeat.py --workload crawl_narrow --seeds 1-10 --out FILE

Use it to check the benchmark is steady before trusting a comparison."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=0,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False)
        wall = time.perf_counter() - t0
        try:
            last = json.loads(p.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"seed {seed}: no result line (exit {p.returncode})\n"
                  + p.stderr[-4000:], file=sys.stderr)
            return 1
        runs.append({"seed": seed, "exit": p.returncode, "run_wall_s": wall,
                     "correct": last["correct"],
                     **{k: v["value"] for k, v in last["metrics"].items()}})
        print(json.dumps(runs[-1]), flush=True)

    summary = {}
    for name in runs[0]:
        if name in ("seed", "exit", "correct"):
            continue
        xs = [r[name] for r in runs]
        q1, med, q3 = statistics.quantiles(xs, n=4)  # med is the median
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med}
        print(f"{name:<18} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {(q3 - q1) / med:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds,
                       "runs": runs, "summary": summary}, f, indent=1)
            f.write("\n")
    return 0 if all(r["correct"] and r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
