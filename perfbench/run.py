#!/usr/bin/env python3
"""Benchmark for smartcrawler_spark: crawl rounds and operator queries.

    python3 perfbench/run.py --workload crawl_narrow --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload operator_suite --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --scaling --seed 1 --seconds 10

Run from the repository root. A crawl run generates its corpus from
`--seed`; the suite reads the repository's fixed sf0.01 tables. Each run
measures for at least `--seconds`, checks every output against `oracle.py` or the
DuckDB oracles, prints the metrics by name and unit, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones from a separate
traced pass. `--out FILE` also saves the full record (environment, rounds,
layer details) as JSON. `--scaling` is a one-off: the crawl_narrow workload
on one core and on every core, written to perfbench/results/scaling.json.
The exit code is 0 only when every output matched its oracle.
"""

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

WORKLOADS = ("crawl_narrow", "operator_suite")

E2E_UNITS = {"setup_s": "s", "round_p50_s": "s", "peak_rss_mb": "MB"}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def end_to_end(workload: str, res: dict) -> tuple[dict, dict]:
    """(gated end-to-end metrics, printed ungated ones).

    A "round" is one `CrawlJob.run_round` on crawl_narrow and one timed pass
    over the query list on operator_suite, so every gated metric exists on
    both workloads. The throughputs are fixed work per round over the
    median round wall, so they are printed but not gated: they would gate
    `round_p50_s` twice."""
    walls = res["walls"]
    p50 = statistics.median(walls)
    if workload == "crawl_narrow":
        named = {
            "frontier_urls_per_s": (res["frontier_urls"] / len(walls) / p50, "1/s"),
            "ckpt_bytes_per_url": (res["ckpt_bytes"] / max(res["frontier_rows"], 1),
                                   "B/url"),
        }
    else:
        named = {
            "suite_s": (p50, "s = round_p50_s"),
            "queries_per_s": (len(res["per_query_s"]) / p50, "1/s"),
        }
    named["round_max_s"] = (max(walls), f"s, slowest of {len(walls)}")
    named["failed_frac"] = (res["failed"] / res["attempted"], "fraction")
    e2e = {
        "setup_s": res["setup_s"],
        "round_p50_s": p50,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return e2e, named


def run_once(args) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import common, crawl_workload, suite_workload
    from perfbench.trace import event_log_report, spark_layer_metrics

    n_cores = args.cores or common.cores()
    workdir = os.path.join(common.WORK_ROOT,
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    common.remove_tree(workdir)
    common.pin_env(workdir, n_cores)
    env = common.env_record(args.seed, n_cores)
    mod = crawl_workload if args.workload == "crawl_narrow" else suite_workload
    try:
        res = mod.run(workdir, args.seed, args.seconds, n_cores, bool(args.trace))
        walls = res["walls"]
        if not walls:
            print(f"nothing timed: {res['error']}", file=sys.stderr)
            return 1
        env["loadavg_after"] = list(os.getloadavg())
        env["steal_s"] = common.cpu_steal_s() - env.pop("steal_s_at_start")
        layer = None
        if args.trace:
            # metrics of layers this workload does not run read 0
            layer = dict.fromkeys(_per_layer_units(), 0.0)
            layer.update(res["layer"])
            # Spark task metrics per timed round (or suite pass); the layer
            # replays run once per traced run and stay totals
            for k, v in spark_layer_metrics(
                    event_log_report(os.path.join(workdir, "eventlog"))).items():
                layer[k] = v if k.endswith(".replay") else v / len(walls)
            layer["trace.round_p50_s"] = statistics.median(walls)
            layer["trace.round_max_s"] = max(walls)
            spans_path = os.path.join(
                common.WORK_ROOT, "traces",
                f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            res["spans"].dump(spans_path)
    finally:
        common.remove_tree(workdir)

    e2e, named = end_to_end(args.workload, res)
    correct = res["failed"] == 0 and res["error"] is None
    print(f"workload={args.workload} seed={args.seed} cores={n_cores} "
          f"trace={args.trace} env={json.dumps(env)}")
    for name, value in e2e.items():
        print(f"  {name:<22} {value:>14.4f} {E2E_UNITS[name]}")
    for name, (value, unit) in named.items():
        print(f"  {name:<22} {value:>14.4f} {unit}")
    print("  round walls s: " + " ".join(f"{w:.3f}" for w in walls)
          + "; setup parts: " + json.dumps(res["setup_parts"]))
    if res["error"]:
        print(f"  error: {res['error']}")
    if not correct:
        print(f"  MISMATCH vs oracle: {res.get('bad_rounds') or res.get('bad_queries')}")
    if layer:
        units = _per_layer_units()
        for name, value in layer.items():
            print(f"  {name:<40} {value:>16.4f} {units.get(name, '')}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()
                   if k in units}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    if args.out:
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "env": env,
            "end_to_end": e2e,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "per_layer": layer,
            "attempted": res["attempted"], "failed": res["failed"],
        }
        if args.workload == "crawl_narrow":
            record["round_walls_s"] = res["walls"]
            record["rounds"] = res["rounds"]
            if args.trace:
                record["per_round_layer"] = res["layer_detail"]
        else:
            record["pass_walls_s"] = res["walls"]
            record["per_query_s"] = res["per_query_s"]
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")

    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def run_scaling(args) -> int:
    """crawl at 1 core vs nproc cores: scaling_eff = X(N) / (N * X(1)) for
    frontier URL throughput X."""
    sys.path.insert(0, ROOT)
    from perfbench import common

    n = common.cores()
    out: dict = {"workload": "crawl_narrow", "seed": args.seed, "seconds": args.seconds,
                 "nproc": n, "runs": {}}
    for c in (1, n):
        record_path = os.path.join(common.WORK_ROOT, f"scaling-{c}.json")
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "crawl_narrow",
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", "0", "--cores", str(c), "--out", record_path]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=900, check=False)
        if p.returncode != 0:
            print(p.stdout + p.stderr[-4000:], file=sys.stderr)
            return p.returncode or 1
        with open(record_path) as f:
            record = json.load(f)
        os.remove(record_path)
        out["runs"][str(c)] = {
            **record["end_to_end"],
            **{k: v["value"] for k, v in record["named"].items()},
            "run_wall_s": time.perf_counter() - t0,
        }
    x1 = out["runs"]["1"]["frontier_urls_per_s"]
    xn = out["runs"][str(n)]["frontier_urls_per_s"]
    out["scaling_eff"] = xn / (n * x1)
    path = os.path.join(HERE, "results", "scaling.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] width (default: nproc); for --scaling")
    ap.add_argument("--out", default="", help="also save the full record here")
    ap.add_argument("--scaling", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "smartcrawler_spark", "plans", "crawl.py")):
        print(f"smartcrawler_spark not found under {ROOT}: run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2
    if args.scaling:
        return run_scaling(args)
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
