#!/usr/bin/env python
"""Decode throughput: synthetic wire packets → decode_packets →
canonical points, fully materialized. Prints one JSON line with
packets/s and points/s. It runs no sink, no status fold and no
micro-batch; for the ingest sink's wire-to-commit latency and
throughput, run ``python3 perfbench/run.py --workload ingest``.

Context (BASELINE.md): the reference's ingest tops out at O(10²)
points/s by construction — per-point synchronous HTTP writes behind a
150-deep in-memory queue. This measures our equivalent decode dataflow:
one ``mapInArrow`` pass per Arrow batch that reads each measurement's
packets with one ``np.frombuffer`` and unpivots them to points.

Usage: python tools/bench_ingest.py [n_packets]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    from pyspark.sql import functions as F

    from solar_logger_spark.session import get_spark
    from solar_logger_spark.streaming.decode import (
        MEASUREMENT_FIELDS,
        decode_packets,
        synthetic_packet_udf,
    )

    spark = get_spark(app_name="solar-logger-ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm

    per_m = n // len(MEASUREMENT_FIELDS)
    streams = []
    for m in MEASUREMENT_FIELDS:
        base = spark.range(per_m).select(
            F.lit(m).alias("measurement"),
            (F.lit(1704067200) + (F.col("id") % 86400)).cast("int").alias("epoch"),
            (F.col("id") % 1000).cast("double").alias("base"),
        )
        streams.append(
            base.select(
                "measurement",
                synthetic_packet_udf(m)(F.col("epoch"), F.col("base")).alias(
                    "payload"
                ),
            )
        )
    packets = streams[0]
    for s in streams[1:]:
        packets = packets.unionByName(s)
    packets = packets.cache()
    n_packets = packets.count()  # materialize encode outside the timing

    t0 = time.perf_counter()
    points = decode_packets(packets)
    points.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    n_points = sum(per_m * len(f) for f in MEASUREMENT_FIELDS.values())

    print(
        json.dumps(
            {
                "metric": "ingest_decode_throughput",
                "packets": n_packets,
                "points": n_points,
                "seconds": round(dt, 3),
                "packets_per_sec": round(n_packets / dt),
                "points_per_sec": round(n_points / dt),
            }
        )
    )
    packets.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
