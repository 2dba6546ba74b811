#!/usr/bin/env python
"""Single-series skew probe for the r12 segmented affine prefix scan
(VERDICT r11 task #1 "done" criterion).

The round-11 EMA family ran one sequential task per series, so a
low-cardinality series key (the registry's 5 event types; the
reference's 3 measurements) meant a single task scanning everything at
any scale. The r12 scan parallelizes WITHIN a series — but the rank
stage has two modes: the default ``rank="window"`` still sorts each
series in one task, while ``rank="segmented"`` range-partitions and
reconstructs the identical rank without any single-task stage.
Evidence, one quiet session, min-of-3 interleaved:

  A. `.probe/sf1` events (1M rows): ema over the natural 5-series key
     vs the same rows coerced to ONE series value — parity shows the
     runtime does not depend on series cardinality at this scale.
  B. A synthesized 10M-row SINGLE-series frame: the scan under both
     rank modes vs the retired per-series sequential form (groupBy +
     applyInPandas carry loop, reconstructed here as the baseline),
     with a cross-check that all three agree.

Usage: python tools/probe_affine_skew.py [N_BIG]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 3
EMA_N = 19  # alpha = 0.1


def _bench(label, fn, reps=REPS):
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    print(f"{label}: min-of-{reps} {best:.2f}s")
    return best


def main() -> int:
    n_big = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType

    from solar_logger_spark.operators.affine_scan import (
        RANK_COL, scalar_affine_scan,
    )
    from solar_logger_spark.operators.timeseries import (
        exponential_moving_average,
    )
    from solar_logger_spark.session import get_spark

    spark = get_spark(app_name="affine-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"loadavg {os.getloadavg()}")

    # -- A: sf1 events, natural 5-series vs forced single-series -----
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ev = spark.read.parquet(
        os.path.join(repo, ".probe", "sf1", "events.parquet")
    ).select("event_id", "ts", "event_type", "value")
    ev.count()  # warm the file scan

    # a unique filter constant per run keeps every rep a distinct
    # plan: the level-0 pass is always checkpointed, and no rep may
    # reuse an earlier rep's work, or the min-of-3 would measure a
    # warm cache, not the operator
    _uniq = [0]

    def _fresh(df):
        _uniq[0] += 1
        return df.filter(F.col("event_id") >= F.lit(-1 - _uniq[0]))

    def run_multi():
        exponential_moving_average(
            _fresh(ev), EMA_N, ["event_type"], ts_col="ts",
            tiebreak=["event_id"],
        ).select(F.sum("ema")).collect()

    def run_single():
        one = _fresh(ev).withColumn("event_type", F.lit("all"))
        exponential_moving_average(
            one, EMA_N, ["event_type"], ts_col="ts",
            tiebreak=["event_id"],
        ).select(F.sum("ema")).collect()

    run_multi()  # JVM/codegen warmup outside the timed reps
    a_multi = []
    a_single = []
    for _ in range(REPS):  # interleaved
        t0 = time.monotonic(); run_multi(); a_multi.append(time.monotonic() - t0)
        t0 = time.monotonic(); run_single(); a_single.append(time.monotonic() - t0)
    print(f"A sf1 events 1M rows: 5-series min {min(a_multi):.2f}s, "
          f"1-series min {min(a_single):.2f}s "
          f"(ratio {min(a_single)/min(a_multi):.2f})")

    # -- B: single-series frame, both rank modes vs sequential form --
    big = (
        spark.range(n_big)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1700000000000000) + F.col("id") * 1000000
            ).alias("ts"),
            F.lit("all").alias("event_type"),
            (F.pmod(F.xxhash64(F.col("id")), F.lit(10000)) / 100.0)
            .alias("value"),
        )
        .repartition(32)
        .persist()
    )
    big.count()

    alpha = 2.0 / (EMA_N + 1)
    rn = F.col(RANK_COL)
    coeff_a = F.when(rn == 1, F.lit(0.0)).otherwise(F.lit(1.0 - alpha))
    coeff_b = F.when(rn == 1, F.col("value")).otherwise(
        F.lit(alpha) * F.col("value")
    )

    sums = {}

    def run_rank(mode):
        sums[mode] = scalar_affine_scan(
            _fresh(big), coeff_a, coeff_b, ["event_type"], "ts",
            ["event_id"], alias="ema", rank=mode,
        ).select(F.sum("ema")).collect()[0][0]

    def _carry(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        # the retired form: a per-series sequential carry (pandas ewm
        # with adjust=False is y_t = a*x_t + (1-a)*y_{t-1}, y_0 = x_0)
        pdf["ema"] = pdf["value"].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    old_schema = StructType(
        list(big.schema.fields) + [StructField("ema", DoubleType())]
    )

    def run_old():
        sums["old"] = (
            big.groupBy("event_type")
            .applyInPandas(_carry, schema=old_schema)
            .select(F.sum("ema"))
            .collect()[0][0]
        )

    run_rank("window")  # warmup
    b = {}
    for _ in range(REPS):  # interleaved min-of-3
        for mode in ("window", "segmented"):
            t0 = time.monotonic()
            run_rank(mode)
            b[mode] = min(b.get(mode, 9e9), time.monotonic() - t0)
    print(f"B {n_big} rows single-series scan: "
          f"rank=window {b['window']:.2f}s, "
          f"rank=segmented {b['segmented']:.2f}s")
    b_old = _bench(f"B {n_big} rows retired sequential form", run_old)
    print(f"B win vs sequential: window {b_old/b['window']:.1f}x, "
          f"segmented {b_old/b['segmented']:.1f}x")
    rel = max(
        abs(sums[m] - sums["old"]) / abs(sums["old"])
        for m in ("window", "segmented")
    )
    print(f"B agreement: sums within rel {rel:.2e} of the sequential "
          f"form (fold orders differ; exact equality not expected)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
