"""QueryBuilder semantics — the reference's golden-string tests
(tests/classes/test_query_classes.py) re-expressed as golden *results*
over a small in-memory point table."""

from datetime import datetime

import pytest
from pyspark.sql import Row

from solar_logger_spark import QueryBuilder


@pytest.fixture(scope="module")
def points(spark):
    rows = []
    base = datetime(2024, 1, 1)
    for i in range(48):  # 48 hourly points, 2 measurements x 2 fields
        ts = base.replace(hour=i % 24, day=1 + i // 24)
        rows.append(Row(measurement="fx-1", ts=ts, field="battery_voltage",
                        value=24.0 + i * 0.1))
        rows.append(Row(measurement="mx-1", ts=ts, field="pv_current",
                        value=float(i % 7)))
    return spark.createDataFrame(rows)


def test_range_inclusive_start_exclusive_stop(points):
    out = (
        QueryBuilder(points)
        .range(datetime(2024, 1, 1, 6), datetime(2024, 1, 1, 8))
        .to_df()
        .collect()
    )
    hours = {r.ts.hour for r in out}
    assert hours == {6, 7}


def test_or_joined_filters_one_band(points):
    qb = (
        QueryBuilder(points)
        .filter("measurement", "fx-1", joiner="or")
        .filter("measurement", "mx-1", joiner="or")
    )
    assert qb.to_df().count() == points.count()


def test_conjunctive_bands(points):
    out = (
        QueryBuilder(points)
        .filter("measurement", "fx-1")
        .filter("value", 26.0, op=">=", new_band=True)
        .to_df()
    )
    rows = out.collect()
    assert rows and all(r.measurement == "fx-1" and r.value >= 26.0 for r in rows)


def test_filter_in(points):
    assert (
        QueryBuilder(points).filter_in("field", ["pv_current"]).to_df().count()
        == 48
    )


def test_aggregate_window_mean_stop_labeled(points):
    out = (
        QueryBuilder(points)
        .filter("measurement", "fx-1")
        .aggregate_window("1d", "mean")
        .to_df()
        .collect()
    )
    # windows labeled by END: day-1 window ends at 2024-01-02
    by_ts = {r.ts: r.value for r in out}
    assert datetime(2024, 1, 2) in by_ts
    expected_day1 = sum(24.0 + i * 0.1 for i in range(24)) / 24
    assert abs(by_ts[datetime(2024, 1, 2)] - expected_day1) < 1e-9


def test_sort_desc(points):
    out = (
        QueryBuilder(points)
        .filter("measurement", "mx-1")
        .sort("value", desc=True)
        .to_df()
        .collect()
    )
    vals = [r.value for r in out]
    assert vals == sorted(vals, reverse=True)


def test_fixed_pipeline_order_filter_before_agg(points):
    """Filters always apply pre-aggregation (reference _build_string
    order from→range→filter→aggregate→sort)."""
    qb = QueryBuilder(points).aggregate_window("1d", "count")
    qb.filter("measurement", "fx-1")  # added after agg, still applies first
    out = {(r.measurement, r.ts): r.value for r in qb.to_df().collect()}
    assert all(m == "fx-1" for m, _ in out)
    assert out[("fx-1", datetime(2024, 1, 2))] == 24


def test_records_and_stream_modes(points):
    qb = QueryBuilder(points).filter("field", "pv_current").sort("ts")
    recs = qb.records()
    assert len(recs) == 48 and isinstance(recs[0], dict)
    assert next(qb.stream()) == recs[0]


def test_result_modes_flatten_struct_columns_like_io_results(points):
    """The builder's result modes are io.results': a struct column comes
    back as a plain nested dict, not as a pyspark Row."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io import results

    tagged = points.withColumn(
        "tags", F.struct(F.col("measurement").alias("device"),
                         F.lit("site-a").alias("site"))
    )
    qb = QueryBuilder(tagged).filter("field", "pv_current").sort("ts")
    expected = results.records(qb.to_df())
    assert expected[0]["tags"] == {"device": "mx-1", "site": "site-a"}
    assert type(expected[0]["tags"]) is dict
    assert qb.records() == expected
    first = next(qb.stream())
    assert first == expected[0]
    assert type(first["tags"]) is dict


def test_csv_mode(points, tmp_path):
    QueryBuilder(points).filter("measurement", "fx-1").to_csv(str(tmp_path / "out"))
    files = list((tmp_path / "out").glob("*.csv"))
    assert len(files) == 1
    header = files[0].read_text().splitlines()[0]
    assert set(header.split(",")) == {"measurement", "ts", "field", "value"}


def test_limit_caps_rows_after_sort(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.builder import QueryBuilder

    qb = QueryBuilder(
        load_table(spark, sf_dir, "events"),
        ts_col="ts", value_col="value", series_cols=("event_type",),
    )
    rows = qb.sort("value", desc=True).limit(7).records()
    assert len(rows) == 7
    vals = [r["value"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_to_flux_renders_corrected_syntax(spark, sf_dir):
    """The reference golden-asserts BROKEN Flux (unclosed parens,
    dangling joiners — its tests at test_query_classes.py:110-141).
    Ours must render the same pipeline with every paren closed and
    joiners only between predicates."""
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.builder import QueryBuilder

    qb = (
        QueryBuilder(load_table(spark, sf_dir, "events"), ts_col="ts")
        .range("-5m")
        .filter("_measurement", "fx-1")
        .filter("_measurement", "mx-1", joiner="or")
        .filter("_measurement", "dc-1", new_band=True)
        .aggregate_window("1h", "mean")
        .sort("ts", desc=True)
        .limit(5)
    )
    flux = str(qb)
    assert flux == (
        'from(bucket: "df") |> range(start: -5m) |> '
        "filter(fn: (r) => r[\"_measurement\"] == 'fx-1' "
        "or r[\"_measurement\"] == 'mx-1') |> "
        "filter(fn: (r) => r[\"_measurement\"] == 'dc-1') |> "
        "aggregateWindow(every: 1h, fn: mean) |> "
        'sort(columns: ["ts"], desc: true) |> limit(n: 5)'
    )
    assert flux.count("(") == flux.count(")")  # §2.11.1 corrected
    assert not flux.rstrip().endswith("or")


def test_duplicate_stage_copies_column(spark, sf_dir):
    from solar_logger_spark.engine import SolarEngine

    eng = SolarEngine(spark)
    df = eng.query_flux(
        'from(bucket: "b") |> range(start: 2024-01-05) '
        '|> duplicate(column: "_value", as: "raw") |> limit(n: 5)',
        "events",
        sf_dir,
    ).to_df()
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.raw == r.value for r in rows)


def test_limit_offset_skips_sorted_prefix(spark, sf_dir):
    from solar_logger_spark.engine import SolarEngine

    eng = SolarEngine(spark)
    text = (
        'from(bucket: "b") |> sort(columns: ["event_id"]) '
        "|> limit(n: 4, offset: 2)"
    )
    got = [r.event_id for r in eng.query_flux(text, "events", sf_dir).to_df().collect()]
    all_ids = sorted(
        r.event_id
        for r in eng.query("events", sf_dir).to_df().select("event_id").collect()
    )
    assert got == all_ids[2:6]


def test_window_stage_rekeys_bare_aggregate(spark, sf_dir):
    from solar_logger_spark.engine import SolarEngine

    eng = SolarEngine(spark)
    windowed = eng.query_flux(
        'from(bucket: "b") |> range(start: 2024-01-05, stop: 2024-01-25) '
        "|> window(every: 1d) |> mean()",
        "events",
        sf_dir,
        series_cols=("event_type",),
    ).to_df()
    agg = eng.query_flux(
        'from(bucket: "b") |> range(start: 2024-01-05, stop: 2024-01-25) '
        "|> aggregateWindow(every: 1d, fn: mean)",
        "events",
        sf_dir,
        series_cols=("event_type",),
    ).to_df()
    w = {(r.event_type, r.window_start): r.value for r in windowed.collect()}
    # aggregateWindow labels by window END; window()+mean keeps the start
    from datetime import timedelta

    a = {
        (r.event_type, r.ts - timedelta(days=1)): r.value
        for r in agg.collect()
    }
    assert w == a


def test_derivative_nonneg_nulls_resets(spark):
    from datetime import datetime

    from pyspark.sql import Row
    from solar_logger_spark.operators.timeseries import derivative

    df = spark.createDataFrame(
        [
            Row(s="a", ts=datetime(2024, 1, 1, 0, 0, 0), value=1.0),
            Row(s="a", ts=datetime(2024, 1, 1, 0, 0, 10), value=5.0),
            Row(s="a", ts=datetime(2024, 1, 1, 0, 0, 20), value=2.0),  # reset
            Row(s="a", ts=datetime(2024, 1, 1, 0, 0, 30), value=3.0),
        ]
    )
    out = derivative(df, ["s"], value_col="value", non_negative=True)
    rates = [r.rate for r in out.orderBy("ts").collect()]
    assert rates[0] is None
    assert rates[1] == pytest.approx(0.4)
    assert rates[2] is None  # negative clamped to null
    assert rates[3] == pytest.approx(0.1)
