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

import hashlib
import os
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType

from solar_logger_spark.operators.litfast import ident_s

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
    """Datetime → integer epoch nanoseconds, converted as Spark converts
    a datetime parameter (a naive one in the process's local time zone),
    so a pushed bound and the statement's filter on the converted column
    agree (exact; float seconds would lose precision at the 1e18
    scale)."""
    return TimestampType().toInternal(dt) * 1000


@dataclass
class _Scan:
    view: str  # qualified, quoted name of the scan's global temp view
    ns_cols: tuple[str, ...]
    columns: tuple[str, ...]
    frame: DataFrame | None = None  # read_parquet's rangeless statement


_READER_MEMO: dict = {}


def _base_read(spark: SparkSession, path: str) -> _Scan:
    """The table's scan as a global temp view, memoized per (app, path,
    mtime), with its ns-column and column lists.

    The view holds PLAN METADATA only — an unexecuted logical plan;
    every statement that reads it still scans the parquet bytes. What
    the memo skips is the per-call schema/footer work (a pyarrow footer
    read plus the JVM-side schema inference + file listing,
    0.1-0.4 s per call) that a production deployment pays once at
    catalog registration, not per query. It is registered once per
    entry in ``global_temp``, so every session of the application
    (``spark.newSession()`` too) reads the same scan by name. Keyed by
    applicationId (a restarted application rebuilds — no dead-JVM
    handles), absolute path, and the file/directory mtime (a rewritten
    fixture registers a new view).

    The view is the scan itself when it has more than one split, and
    ``coalesce(1)`` of the scan when it has exactly one. The split
    count is probed once per memo entry (one planning pass, no job). A
    one-split scan already runs in one task; the coalesce only declares
    its output ``SinglePartition``, so the aggregates, sorts, windows
    and joins above it need no Exchange and a small query runs as one
    stage instead of a shuffle-map job plus a result job. Filters and
    column pruning still reach the scan (both push through a
    Repartition). A CPU-heavy consumer that wants width asks for it
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
        name = "scan_" + hashlib.sha1(repr(key[1:]).encode()).hexdigest()[:16]
        df.createOrReplaceGlobalTempView(name)
        db = spark.conf.get("spark.sql.globalTempDatabase")
        hit = _Scan(
            f"{ident_s(db)}.{ident_s(name)}", tuple(ns_cols), tuple(df.columns)
        )
        _READER_MEMO[key] = hit
    return hit


def scan_columns(spark: SparkSession, path: str) -> tuple[str, ...]:
    """The columns :func:`scan_sql` yields for ``path``, in order."""
    return _base_read(spark, path).columns


def scan_sql(spark: SparkSession, path: str, ns_range=None) -> tuple[str, dict]:
    """The table at ``path`` as the head of a SQL pipe statement:
    ``(text, args)`` for ``spark.sql(text, args)``, which further
    ``|>`` operators may extend.

    The text reads the memoized view (:func:`_base_read`) and converts
    each TIMESTAMP(NANOS) column, which Spark reads as long, to a µs
    timestamp: ``timestamp_micros(ts DIV 1000)``, matching DuckDB, whose
    timestamps are µs-native, for oracle parity.

    ``ns_range`` — ``{col: (t0, t1)}`` with datetime or None bounds —
    applies the equivalent raw-int64 predicate *before* the conversion.
    Filters on the converted column can't cross the conversion into the
    scan, so without this a time-range query full-scans the point table;
    with it the range reaches PushedFilters and prunes row groups/pages
    (and, on a date-partitioned production layout, whole partitions).
    The caller's post-conversion filter still applies — this pushed
    predicate just has to be a superset. Its bounds are named
    parameters whose names carry their values, so the args of two scans
    merge into one statement without a clash.
    """
    return _scan_text(_base_read(spark, path), ns_range)


def _scan_text(scan: _Scan, ns_range) -> tuple[str, dict]:
    text, args, conds = f"FROM {scan.view}", {}, []
    for i, col in enumerate(scan.ns_cols):
        t0, t1 = (ns_range or {}).get(col, (None, None))
        for op, bound in ((">=", t0), ("<", t1)):
            if bound is not None:
                ns = _epoch_ns(bound) + (1000 if op == "<" else 0)
                name = f"ns{i}_{'ge' if op == '>=' else 'lt'}_{ns}".replace("-", "m")
                args[name] = ns
                conds.append(f"{ident_s(col)} {op} :{name}")
    if conds:
        text += "\n|> WHERE " + " AND ".join(conds)
    # every column re-aliased: it also drops the view's name from the
    # columns' qualifiers, so a derived column is named ``avg(value)``
    # as over the DataFrame, not ``avg(global_temp.scan_….value)``
    text += "\n|> SELECT " + ", ".join(
        f"timestamp_micros({ident_s(c)} DIV 1000) AS {ident_s(c)}"
        if c in scan.ns_cols else f"{ident_s(c)} AS {ident_s(c)}"
        for c in scan.columns
    )
    return text, args


def read_parquet(spark: SparkSession, path: str, ns_range=None) -> DataFrame:
    """``spark.read.parquet`` that tolerates TIMESTAMP(NANOS) columns and
    pushes a raw-int64 range to the scan: the one statement
    :func:`scan_sql` renders. The statement without a pushed range is
    memoized with the scan, so a plain table read costs no parse or
    analysis after the first."""
    scan = _base_read(spark, path)
    text, args = _scan_text(scan, ns_range)
    if args:
        return spark.sql(text, args)
    if scan.frame is None:
        scan.frame = spark.sql(text)
    return scan.frame


def table_path(sf_dir: str, name: str) -> str:
    """Where one testdata table lives: ``{sf_dir}/{name}.parquet``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, ns_range=None
) -> DataFrame:
    """Read one testdata table: ``{sf_dir}/{name}.parquet``."""
    return read_parquet(spark, table_path(sf_dir, name), ns_range=ns_range)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
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
