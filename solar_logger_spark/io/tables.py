"""Parquet table loading — the engine's ``from(bucket)`` source.

The reference's source operator selects an InfluxDB bucket
(``src/classes/query_classes.py:86-93``); ours reads parquet directories
(one per table) with schema/pushdown handled by the vectorized parquet
reader. On a real deployment the point store is partitioned by
(measurement, date) so time-range + measurement predicates become
partition pruning; the flat test files still get row-group/page skipping
from parquet min/max stats.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark has no native
    nanosecond timestamp, so these are read as long and down-converted."""
    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    import pyarrow as pa

    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _epoch_ns(dt) -> int:
    """Naive-UTC datetime → integer epoch nanoseconds (exact; float
    seconds would lose precision at the 1e18 scale)."""
    import calendar

    return calendar.timegm(dt.timetuple()) * 10**9 + dt.microsecond * 1000


_READER_MEMO: dict = {}


def _base_read(spark: SparkSession, path: str):
    """The (lazy DataFrame, ns-column list) for ``path``, memoized per
    (session, path, mtime).

    Caches PLAN METADATA only — a DataFrame is an unexecuted logical
    plan; every action on it still scans the parquet bytes. What the
    memo skips is the per-call schema/footer work (a pyarrow footer
    read plus the JVM-side schema inference + file listing,
    0.1-0.4 s per call) that a production deployment pays once at
    catalog registration, not per query. Keyed by applicationId (a
    restarted session rebuilds — no dead-JVM handles), absolute path,
    and the file/directory mtime (a rewritten fixture invalidates).

    The memoized frame is the scan itself when it has more than one
    split, and ``coalesce(1)`` of the scan when it has exactly one. The
    split count is probed once per memo entry (one planning pass, no
    job). A one-split scan already runs in one task; the coalesce only
    declares its output ``SinglePartition``, so the aggregates, sorts,
    windows and joins above it need no Exchange and a small query runs
    as one stage instead of a shuffle-map job plus a result job.
    Filters and column pruning still reach the scan (both push through
    a Repartition). A CPU-heavy consumer that wants width asks for it
    with ``operators.spread.spread_small``."""
    sc = spark.sparkContext
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (sc.applicationId, os.path.abspath(path), mtime)
    hit = _READER_MEMO.get(key)
    if hit is None:
        if len(_READER_MEMO) > 64:  # stale sessions / rewritten dirs
            _READER_MEMO.clear()
        ns_cols = _ns_timestamp_cols(path)
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if df.rdd.getNumPartitions() == 1:
            df = df.coalesce(1)
        hit = (df, tuple(ns_cols))
        _READER_MEMO[key] = hit
    return hit


def read_parquet(spark: SparkSession, path: str, ns_range=None) -> DataFrame:
    """``spark.read.parquet`` that tolerates TIMESTAMP(NANOS) columns.

    Parquet written at nanosecond precision is unreadable by Spark
    without the legacy nanos-as-long conf, so we enable it and truncate
    ns → µs (matching DuckDB, whose timestamps are µs-native, for oracle
    parity).

    ``ns_range`` — ``{col: (t0, t1)}`` with datetime or None bounds —
    applies the equivalent raw-int64 predicate *before* the conversion.
    Filters on the converted column can't cross ``timestamp_micros(ts
    div 1000)`` into the scan, so without this a time-range query full-
    scans the point table; with it the range reaches PushedFilters and
    prunes row groups/pages (and, on a date-partitioned production
    layout, whole partitions). The caller's post-conversion filter still
    applies — this pushed predicate just has to be a superset.
    """
    df, ns_cols = _base_read(spark, path)
    if ns_range:
        for col, (t0, t1) in ns_range.items():
            if col in ns_cols:
                if t0 is not None:
                    df = df.filter(F.col(col) >= _epoch_ns(t0))
                if t1 is not None:
                    df = df.filter(F.col(col) < _epoch_ns(t1) + 1000)
    for col in ns_cols:
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, ns_range=None
) -> DataFrame:
    """Read one testdata table: ``{sf_dir}/{name}.parquet``."""
    return read_parquet(
        spark, os.path.join(sf_dir, f"{name}.parquet"), ns_range=ns_range
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = read_parquet(spark, path)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view so the whole engine
    surface is reachable from plain ``spark.sql`` — the same catalog
    names the DuckDB oracle uses. Returns the registered names."""
    registered = []
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
        registered.append(name)
    return registered
