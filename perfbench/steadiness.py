#!/usr/bin/env python3
"""Run one workload N times with different seeds and report each metric's
median and quartiles against the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload etl_daily --runs 10 [--seed0 1] [--trace]

The spread of a metric is (Q3 - Q1) / median over the runs, with the
quartiles from statistics.quantiles(values, n=4). With --trace every seed
is also run traced, the per-layer medians are printed, and the tracing
overhead is reported as traced op_p50 / untraced op_p50.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        if line.startswith("[perfbench] exact"):
            print(f"  seed {seed}: {line[len('[perfbench] '):]}")
    return result, wall


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    sys.stdout.reconfigure(line_buffering=True)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]

    values, traced, walls = {}, {}, []
    for i in range(args.runs):
        seed = args.seed0 + i
        res, wall = run(args.workload, seed, seconds, 0)
        walls.append(wall)
        ok = res["correct"] and res["failed"] == 0
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={wall:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
        if not ok:
            print(f"  seed {seed} FAILED its output checks")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.trace:
            tres, _ = run(args.workload, seed, seconds, 1)
            for k, v in tres["metrics"].items():
                traced.setdefault(k, []).append(v["value"])

    print(f"\n{args.workload}: {args.runs} runs, {sum(walls):.0f} s in all "
          f"({statistics.mean(walls):.1f} s per run)")
    print(f"{'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
    for k, vs in values.items():
        med, q1, q3 = stats(vs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k, {}).get("bound", float("nan"))
        verdict = ("ok" if spread <= b / 3 else "within bound" if spread <= b else "TOO WIDE")
        if k == "setup_s":
            verdict += " (setup spread is not gated)"
        print(f"{k:<14} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f} {b:>6.2f}  {verdict}")
    if args.trace:
        print("\nper-layer medians (traced runs):")
        for k, vs in traced.items():
            if any(vs):
                print(f"  {k:<28} {statistics.median(vs):>14.3f}")
        over = statistics.median(traced["trace.op_p50_ms"]) / (
            1000 * statistics.median(values["op_p50_s"]))
        print(f"\ntracing overhead (traced op_p50 / untraced op_p50): {over:.3f}")


if __name__ == "__main__":
    main()
