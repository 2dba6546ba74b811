#!/usr/bin/env python3
"""Steadiness check and tracing-overhead report.

Runs ``perfbench/run.py`` once per seed on each workload and prints, per
end-to-end metric, the median, the quartiles and the interquartile range
as a share of the median (the figure each metric's ``bound`` in
BENCHMARK.json is checked against). With ``--traced N`` it also makes N
traced runs per workload and prints each layer's self time per op and
the tracing overhead: the traced run's end-to-end medians minus the
untraced ones. Each run's result and record are kept in
``.perfbench-work/spread/``.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--traced 2]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    result = {**json.loads(lines[-1]), **json.loads(lines[-2])}
    keep = os.path.join(ROOT, ".perfbench-work", "spread")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{workload}-{seed}-trace{trace}.json"), "w") as fh:
        json.dump(result, fh)
    return result


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    for workload in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            r = _run(workload, seed, args.seconds, 0)
            runs.append(r)
            print(f"{workload} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} canary={r['record']['canary_s']:.3f}s "
                  f"steal={r['record']['steal_share']:.1%} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
            for problem in r["record"]["problems"]:
                print(f"  problem: {problem}")
        print(f"\n{workload}: {len(runs)} runs")
        print(f"  {'metric':<20} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}")
        medians = {}
        for name in bounds:
            q1, med, q3 = _quartiles([r["metrics"][name]["value"] for r in runs])
            medians[name] = med
            print(f"  {name:<20} {med:>12.4g} {q1:>12.4g} {q3:>12.4g} "
                  f"{(q3 - q1) / med:>8.3f} {bounds[name]:>6}")
        if args.traced:
            traced = [_run(workload, seed, args.seconds, 1) for seed in _seeds(args.seeds)[: args.traced]]
            print(f"\n  tracing overhead ({len(traced)} traced runs, median traced - median untraced):")
            for name in bounds:
                t = statistics.median(r["record"]["end_to_end"][name] for r in traced)
                print(f"  {name:<20} {t - medians[name]:>+12.4g} ({(t - medians[name]) / medians[name]:+.1%})")
            print("\n  self time per op (ms), by layer:")
            layers = sorted({k for r in traced for k in r["record"]["self_ms_per_op"]})
            for layer in layers:
                v = statistics.median(r["record"]["self_ms_per_op"].get(layer, 0.0) for r in traced)
                print(f"  {layer:<20} {v:>12.2f}")
            print("\n  per-layer readings (median of traced runs):")
            for key in sorted(traced[0]["record"]["layers"]):
                v = statistics.median(r["record"]["layers"][key] for r in traced)
                print(f"  {key:<28} {v:>14.4g}")
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
