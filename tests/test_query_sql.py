"""QueryBuilder as one SQL pipe statement: the whole pipeline reaches
Spark in one ``spark.sql`` call from the table scan up, user values
travel only as named parameters, the scan is a view every session of
the application can read, and a static range still reaches the scan
as a raw-int64 predicate."""

from __future__ import annotations

import calendar
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from solar_logger_spark.io.tables import load_table, table_path
from solar_logger_spark.operators.window_agg import aggregate_window
from solar_logger_spark.query.builder import QueryBuilder

T0, T1 = datetime(2024, 1, 5), datetime(2024, 1, 25)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_pipeline_over_a_table_is_one_sql_call(spark, sf_dir, monkeypatch):
    calls = {"sql": 0, "filter": 0, "groupBy": 0, "orderBy": 0}

    def counted(owner, name):
        orig = getattr(owner, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapper)

    qb = (
        QueryBuilder(
            table_path(sf_dir, "events"), spark=spark,
            series_cols=("event_type",),
        )
        .range(T0, T1)
        .filter_in("event_type", ["click", "view"])
        .aggregate_window("1d", "mean")
        .sort("ts")
    )
    frame_type = type(spark.range(0))
    counted(type(spark), "sql")
    for name in ("filter", "groupBy", "orderBy"):
        counted(frame_type, name)
    df = qb.to_df()
    assert calls == {"sql": 1, "filter": 0, "groupBy": 0, "orderBy": 0}
    monkeypatch.undo()

    events = load_table(spark, sf_dir, "events")
    want = aggregate_window(
        events.filter((F.col("ts") >= T0) & (F.col("ts") < T1))
        .filter(F.col("event_type").isin("click", "view")),
        "1d", "mean", by=["event_type"],
    )
    assert _rows(df) == _rows(want) and len(_rows(df)) > 0


def test_user_values_are_parameters_never_sql_text(spark, sf_dir):
    col = "ev`type"
    inject = "x' OR '1'='1"
    events = load_table(spark, sf_dir, "events").withColumnRenamed(
        "event_type", col
    )
    qb = (
        QueryBuilder(events, series_cols=(col,))
        .filter(col, inject)
        .filter(col, "^(cl|vi)", op="=~", joiner="or")
        .filter("value", 30.0, op="<=", new_band=True)
    )
    text, args = qb.to_sql()
    for value in (inject, "^(cl|vi)", "30.0"):
        assert value not in text
    assert "`ev``type`" in text
    assert set(args.values()) == {inject, "^(cl|vi)", 30.0}

    c = F.col("`ev``type`")
    want = events.filter((c == inject) | c.rlike("^(cl|vi)")).filter(
        F.col("value") <= 30.0
    )
    assert _rows(qb.to_df()) == _rows(want) and len(_rows(want)) > 0


def test_stage_without_sql_rendering_runs_after_the_statement(spark, sf_dir):
    qb = (
        QueryBuilder(
            table_path(sf_dir, "events"), spark=spark,
            series_cols=("event_type",),
        )
        .range(T0, T1)
        .aggregate_window("1d", "mean")
        .transform("difference")
        .transform("keep", columns=["ts", "event_type", "value"])
        .sort("ts", desc=True)
        .limit(3)
    )
    with pytest.raises(ValueError, match="difference"):
        qb.to_sql()
    rows = qb.to_df().collect()
    assert len(rows) == 3
    assert [r.ts for r in rows] == sorted((r.ts for r in rows), reverse=True)


def test_new_session_reads_the_memoized_scan_view(spark, sf_dir):
    path = table_path(sf_dir, "events")

    def build(session):
        return (
            QueryBuilder(path, spark=session, series_cols=("event_type",))
            .range(T0, T1)
            .filter("event_type", "purchase")
            .to_df()
        )

    want = _rows(build(spark))  # memoizes the scan in the first session
    other = spark.newSession()
    assert _rows(build(other)) == want and len(want) > 0


def test_flux_text_pipeline_pushes_raw_int64_range(spark, sf_dir, tmp_path):
    # events with its time column stored as parquet TIMESTAMP(NANOS)
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(table, str(tmp_path / "events.parquet"))

    q = entry_mod.queries()["flux_text_pipeline"]
    df = q(spark, str(tmp_path))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the text's bounds are timestamp strings, read in the session time
    # zone, so the pushed raw range is a day wider on each side
    day = 86_400 * 10**9
    lo = calendar.timegm(T0.timetuple()) * 10**9 - day
    hi = calendar.timegm(T1.timetuple()) * 10**9 + day + 1000
    assert f"GreaterThanOrEqual(ts,{lo})" in plan
    assert f"LessThan(ts,{hi})" in plan
    assert _rows(df) == _rows(q(spark, sf_dir)) and len(_rows(df)) > 0


@pytest.mark.parametrize("create_empty", [False, True])
def test_aggregate_window_output_is_named_value_col(spark, sf_dir, create_empty):
    events = load_table(spark, sf_dir, "events")

    def build(df, value_col):
        return (
            QueryBuilder(df, value_col=value_col, series_cols=("event_type",))
            .range(T0, T1)
            .aggregate_window("1d", "mean", create_empty=create_empty)
            .transform("difference")
        )

    got = build(events.withColumnRenamed("value", "v"), "v").to_df()
    want = build(events, "value").to_df()
    assert got.columns == [("v" if c == "value" else c) for c in want.columns]
    assert _rows(got) == _rows(want) and len(_rows(want)) > 0
