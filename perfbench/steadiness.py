"""Steadiness and tracing-overhead evidence for the benchmark.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/results/steadiness.json
    python3 perfbench/steadiness.py --runs 5      # while tuning

Run from the repository root. For each workload it runs the benchmark
untraced once per seed (seeds 1..runs), then once traced on seed 1. It
reports, per end-to-end metric, the median and the spread — the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median — next to the metric's bound from BENCHMARK.json, and
the traced run's end-to-end figures against the median of the untraced
runs (the tracing overhead, seen through the run-to-run spread). Runs are
sequential: one Spark JVM at a time.
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


def run_once(cmd: list, workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.time()
    p = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    took = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    return json.loads(lines[-1]), took


def spread(values: list) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    secs = bench["run_seconds"]
    report: dict = {"run_seconds": secs, "workloads": {}}
    for w in [x["name"] for x in bench["workloads"]]:
        seeds = list(range(1, a.runs + 1))
        runs, wall = [], []
        for seed in seeds:
            res, took = run_once(bench["command"], w, seed, secs, 0)
            runs.append(res)
            wall.append(took)
            print(f"{w} seed {seed}: {took:.1f} s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        rows = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, spr = spread(vals)
            rows[name] = {"median": med, "spread": spr, "bound": bounds[name], "values": vals}
        entry = {"seeds": seeds, "run_wall_s": wall, "metrics": rows,
                 "failed": sum(r["failed"] for r in runs)}
        traced, took = run_once(bench["command"], w, seeds[0], secs, 1)
        with open(os.path.join(HERE, ".out", f"trace-{w}-{seeds[0]}.json")) as fh:
            tr = json.load(fh)
        entry["traced"] = {
            "run_wall_s": took,
            "tracer_bookkeeping_s": tr["overhead_s"],
            "end_to_end_traced_vs_untraced_median": {
                k: {"traced": tr["end_to_end"][k], "untraced_median": rows[k]["median"],
                    "untraced_spread": rows[k]["spread"]}
                for k in ("events_per_s", "latency_p50_s", "read_latency_p50_s", "write_amp",
                          "setup_s")
            },
            "per_layer": traced["metrics"],
        }
        report["workloads"][w] = entry
        print(f"\n{w}: {len(runs)} runs, mean run {statistics.mean(wall):.1f} s")
        print(f"{'metric':22s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
        for name, row in rows.items():
            flag = "" if row["spread"] < row["bound"] / 3 else "  <-- above bound/3"
            print(f"{name:22s} {row['median']:12.5g} {row['spread']:8.4f} "
                  f"{row['bound']:6.2f}{flag}")
        for k, v in entry["traced"]["end_to_end_traced_vs_untraced_median"].items():
            print(f"  traced {k}: {v['traced']:.4g} vs untraced median "
                  f"{v['untraced_median']:.4g} (spread {v['untraced_spread']:.3f})")
        print(flush=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
