#!/usr/bin/env python3
"""Repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload flux_interactive --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; the timed window lasts ``--seconds``; every output is checked
against a reference (DuckDB oracle twins for queries, the generator's
expected points for ingest). The last stdout line is::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is the run record: machine state,
seed, the workload's own metric names, and with ``--trace 1`` the full
per-layer report and per-layer self times. Everything the run writes
goes under ``.perfbench-work/`` in the repository root; the traced run
also leaves its spans in ``.perfbench-work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# What each generic end-to-end metric is called on each workload.
NAMES = {
    "flux_interactive": {"latency_ms": "flux_p50_ms", "throughput_per_s": "flux_qps"},
    "ingest": {"latency_ms": "ingest_best_trial_ms", "throughput_per_s": "backfill_points_per_s"},
}


def _environment(work: str) -> int:
    """Pin Spark to this host's cores and keep every file it writes
    inside ``work``. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's launcher JVM
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            f"spark.local.dir={local}",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions={java_opts}",
        ]),
    })
    return cpus


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _canary(spark) -> float:
    """Data-independent CPU job, min of 2: separates ambient machine
    drift from code changes when comparing runs."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(CAST(id AS DOUBLE) * id)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    setup_t0 = time.perf_counter()
    sys.path[:0] = [ROOT, HERE]
    from solar_logger_spark.session import get_spark  # the program under test

    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = _environment(work)
    os.chdir(work)

    load1, load5, _ = os.getloadavg()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t = time.perf_counter()
        canary = _canary(spark)
        setup_t0 += time.perf_counter() - t  # the canary is not set-up
        run = workloads.Run(
            spark=spark, tracer=Tracer(bool(args.trace)), seed=args.seed,
            seconds=args.seconds, work=work, setup_t0=setup_t0,
            latency_bound=next(m["bound"] for m in bench["end_to_end"] if m["name"] == "latency_ms"),
        )
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    metrics = {
        "latency_ms": res.latency_ms,
        "throughput_per_s": res.throughput_per_s,
        "setup_s": res.setup_s,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": _git_commit(), "nproc": cpus,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m": load1, "loadavg_5m": load5, "canary_s": canary,
        "samples": res.samples, "window_s": res.window_s,
        "end_to_end": metrics,
        **{NAMES[args.workload].get(k, k): v for k, v in metrics.items()},
        "failed_ratio": res.failed / max(res.attempted, 1),
        "problems": res.problems[:20],
        **res.extra,
    }
    if args.trace:
        record["layers"] = res.layers
        record["self_ms_per_op"] = run.tracer.self_times_ms(res.ops)
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        run.tracer.dump(
            os.path.join(base, "traces", f"{args.workload}-{args.seed}.json"),
            {"record": record},
        )
        # a layer the workload does not run (streaming on flux) reads 0
        out = {m["name"]: {"value": float(res.layers.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in bench["per_layer"]}
    else:
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
               for m in bench["end_to_end"]}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": res.failed == 0 and not res.problems,
        "attempted": res.attempted, "failed": res.failed, "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
