"""io.tables: a one-split table reads as one partition end to end, so a
small query plans without an Exchange and runs as one Spark job; a
table of more splits keeps its scan width and its shuffles."""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq

import __spark_entry__ as entry_mod
from solar_logger_spark.io.tables import read_parquet


def _run_in_group(spark, build):
    """Build and collect a frame under a fresh job group → (frame,
    the number of Spark jobs the build and the collect ran)."""
    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = build()
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_one_split_table_runs_flux_agg_mean_in_one_job(spark, sf_dir):
    q = entry_mod.queries()["flux_agg_mean"]
    q(spark, sf_dir)  # the table's first read infers its schema in a job
    df, jobs = _run_in_group(spark, lambda: q(spark, sf_dir))
    assert jobs == 1
    assert "Exchange" not in _executed_plan(df)
    # the raw-int64 range still reaches the scan through the coalesce
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "GreaterThanOrEqual(ts," in formatted
    assert "LessThan(ts," in formatted


def test_two_split_table_keeps_width_and_exchange(spark, sf_dir, tmp_path):
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    half = table.num_rows // 2
    out = tmp_path / "events2"
    out.mkdir()
    pq.write_table(table.slice(0, half), str(out / "part-0.parquet"))
    pq.write_table(table.slice(half), str(out / "part-1.parquet"))

    events = read_parquet(spark, str(out))
    assert events.rdd.getNumPartitions() == 2
    df, _ = _run_in_group(
        spark, lambda: events.groupBy("event_type").count()
    )
    assert "Exchange" in _executed_plan(df)
    assert sorted(df.collect()) == sorted(
        read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        .groupBy("event_type").count().collect()
    )
