"""Flux text → executable pipeline: the reference's golden strings
(including its broken forms, SURVEY §2.11.1) and round-trips through our
corrected renderer."""

from __future__ import annotations

from datetime import datetime

from solar_logger_spark.query.flux_parser import parse_flux


def test_parse_reference_basic_golden():
    # reference tests/classes/test_query_classes.py:32-41
    p = parse_flux('from(bucket: "Bucket")\n\t|> range(start: -5m)')
    assert p.bucket == "Bucket"
    assert p.start == "-5m" and p.stop is None
    assert p.bands == [] and p.agg is None and p.sorts == []


def test_parse_reference_end_range_golden():
    p = parse_flux(
        'from(bucket: "B")\n\t|> range(start: 2021-06-01, stop: 2021-07-15)'
    )
    assert p.start == "2021-06-01" and p.stop == "2021-07-15"


def test_parse_reference_filter_with_broken_joiner():
    # reference flow: append_filter(joiner="Or") then append_filter →
    # '... == "fx-1" Or r["_measurement"] == "mx-1")'
    p = parse_flux(
        'from(bucket: "B")\n\t|> range(start: -5m)'
        '\n\t|> filter(fn: (r) => r["_measurement"] == "fx-1" Or '
        'r["_measurement"] == "mx-1")'
    )
    assert p.bands == [
        [
            ("_measurement", "==", "fx-1", "and"),
            ("_measurement", "==", "mx-1", "or"),
        ]
    ]


def test_parse_dangling_trailing_joiner_dropped():
    # reference bug: a trailing ' Or ' with no following predicate
    p = parse_flux(
        'from(bucket: "B")\n\t|> range(start: -5m)'
        '\n\t|> filter(fn: (r) => r["_field"] == "bat_voltage" Or '
    )
    assert p.bands == [[("_field", "==", "bat_voltage", "and")]]


def test_parse_reference_unclosed_aggregate_and_sort():
    # reference emits both stages without closing parens and with a
    # Python-cased boolean (query_classes.py:134-148)
    p = parse_flux(
        'from(bucket: "B")\n\t|> range(start: -20m)'
        "\n\t|> aggregateWindow(every: 1h, fn: mean"
        '\n\t|> sort(columns: ["_time"], desc: True'
    )
    assert p.agg == ("1h", "mean", False)
    assert p.sorts == [("_time", True)]


def test_parse_filter_bands_are_separate_stages():
    p = parse_flux(
        'from(bucket: "B")\n\t|> range(start: -5m)'
        '\n\t|> filter(fn: (r) => r["_measurement"] == "fx-1")'
        '\n\t|> filter(fn: (r) => r["_field"] == "battery_voltage")'
    )
    assert len(p.bands) == 2


def test_roundtrip_through_corrected_renderer(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.builder import QueryBuilder

    events = load_table(spark, sf_dir, "events")
    qb = (
        QueryBuilder(
            events, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        )
        .range(datetime(2024, 1, 5), datetime(2024, 1, 25))
        .filter("event_type", "click")
        .filter("event_type", "view", joiner="or")
        .aggregate_window("1d", "mean")
        .sort("ts")
    )
    reparsed = parse_flux(qb.to_flux()).to_builder(
        events, ts_col="ts", value_col="value", series_cols=("event_type",)
    )
    want = [tuple(r) for r in qb.to_df().collect()]
    got = [tuple(r) for r in reparsed.to_df().collect()]
    assert got == want and len(got) > 0


def test_execute_reference_style_text_with_field_map(spark, sf_dir):
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table

    events = load_table(spark, sf_dir, "events")
    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click" Or '
        'r["_measurement"] == "view")'
        "\n\t|> aggregateWindow(every: 6h, fn: max"
    )
    df = (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts", value_col="value", series_cols=("event_type",),
        )
        .to_df()
    )
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"ts", "event_type", "value"}
    # equivalent direct plan
    want = (
        events.filter(
            (F.col("ts") >= datetime(2024, 1, 5))
            & (F.col("ts") < datetime(2024, 1, 25))
            & F.col("event_type").isin("click", "view")
        )
        .groupBy(F.window("ts", "21600 seconds"), "event_type")
        .agg(F.max("value").alias("value"))
        .select(F.col("window.end").alias("ts"), "event_type", "value")
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))


def test_unsupported_stage_rejected():
    import pytest

    with pytest.raises(ValueError, match="unsupported stage"):
        parse_flux('from(bucket: "B") |> covariance(columns: ["x", "y"])')


def test_parse_transform_stages():
    p = parse_flux(
        'from(bucket: "B") |> range(start: -5m)'
        ' |> aggregateWindow(every: 1h, fn: mean)'
        ' |> derivative(unit: 1s)'
        ' |> movingAverage(n: 7)'
        ' |> timeShift(duration: 2h)'
        ' |> stateCount(fn: (r) => r._value > 50)'
        ' |> stateDuration(fn: (r) => r["_value"] <= 0, unit: 10s)'
        ' |> sort(columns: ["_time"], desc: false)'
    )
    assert [t[0] for t in p.transforms] == [
        "derivative", "movingAverage", "timeShift",
        "stateCount", "stateDuration",
    ]
    assert p.transforms[1][1]["n"] == 7
    assert p.transforms[2][1]["duration"] == "2h"
    assert p.transforms[3][1]["predicate_src"] == ("_value", ">", 50)
    assert p.transforms[4][1]["predicate_src"] == ("_value", "<=", 0)
    assert p.transforms[4][1]["unit_seconds"] == 10.0


def test_execute_text_with_transforms(spark, sf_dir):
    """A pipeline string with post-agg transforms executes and matches
    the hand-built equivalent."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T
    from solar_logger_spark.operators.window_agg import aggregate_window

    events = load_table(spark, sf_dir, "events")
    text = (
        "from(bucket: \"events\")"
        " |> range(start: 2024-01-01, stop: 2024-02-01)"
        " |> aggregateWindow(every: 1d, fn: mean)"
        " |> difference()"
        " |> cumulativeSum()"
    )
    got = (
        parse_flux(text)
        .to_builder(events, series_cols=("event_type",))
        .to_df()
        .select("ts", "event_type", "value")
    )
    base = aggregate_window(
        events.filter(
            (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-02-01")
        ),
        "1d", "mean", by=["event_type"],
    )
    want = T.difference(base, ["event_type"], alias="_d")
    want = want.withColumn("value", F.col("_d")).drop("_d")
    want = want.filter(F.col("value").isNotNull())
    want = T.cumulative_sum(want, ["event_type"], alias="_c")
    want = want.withColumn("value", F.col("_c")).drop("_c").select(
        "ts", "event_type", "value"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_execute_text_state_count(spark, sf_dir):
    """stateCount over raw (un-aggregated) records through text."""
    from solar_logger_spark.io.tables import load_table

    events = load_table(spark, sf_dir, "events")
    text = (
        "from(bucket: \"events\") |> range(start: 2024-01-01)"
        " |> stateCount(fn: (r) => r._value > 50)"
    )
    out = (
        parse_flux(text)
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    rows = out.select("state_count").collect()
    assert len(rows) > 0
    assert {type(r.state_count) for r in rows} == {int}
    assert all(r.state_count >= -1 for r in rows)


def test_execute_text_top_bottom(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table

    events = load_table(spark, sf_dir, "events")
    top = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> aggregateWindow(every: 1d, fn: mean) |> top(n: 2)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
        .collect()
    )
    by_series = {}
    for r in top:
        by_series.setdefault(r.event_type, []).append(r.value)
    assert all(len(v) <= 2 for v in by_series.values())
    bottom = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> aggregateWindow(every: 1d, fn: mean) |> bottom(n: 2)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
        .collect()
    )
    for r in bottom:
        assert r.value <= min(by_series[r.event_type]) or len(
            by_series[r.event_type]
        ) < 2 or r.value <= max(by_series[r.event_type])


def test_parse_fill_value_distinct_unique():
    p = parse_flux(
        'from(bucket: "B") |> range(start: -5m)'
        " |> fill(value: 0) |> distinct() |> unique()"
    )
    assert p.transforms == [
        ("fill", {"value": 0}), ("distinct", {}), ("unique", {}),
    ]


def test_execute_distinct_drops_nonseries_columns(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> aggregateWindow(every: 1d, fn: count) |> distinct()"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    assert sorted(out.columns) == ["event_type", "value"]
    rows = [(r.event_type, r.value) for r in out.collect()]
    assert len(rows) == len(set(rows))


def test_parse_and_execute_keep_drop_rename(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table

    p = parse_flux(
        'from(bucket: "B") |> range(start: -5m)'
        ' |> keep(columns: ["_time", "_value", "event_type"])'
        ' |> rename(columns: {_value: "reading"})'
    )
    assert p.transforms[0] == (
        "keep", {"columns": ["_time", "_value", "event_type"]}
    )
    assert p.transforms[1] == ("rename", {"columns": {"_value": "reading"}})

    events = load_table(spark, sf_dir, "events")
    out = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            ' |> keep(columns: ["_time", "_value", "event_type"])'
            ' |> rename(columns: {_value: "reading"})'
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    assert sorted(out.columns) == ["event_type", "reading", "ts"]
    dropped = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            ' |> drop(columns: ["props", "user_id"])'
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    assert "props" not in dropped.columns and "user_id" not in dropped.columns


def test_parse_pivot_group_map_bare_agg():
    from solar_logger_spark.query.flux_parser import parse_flux

    p = parse_flux(
        'from(bucket: "B") |> range(start: -5m)'
        ' |> group(columns: ["user_id"])'
        " |> aggregateWindow(every: 1h, fn: mean)"
        ' |> pivot(rowKey: ["_time"], columnKey: ["_field"],'
        ' valueColumn: "_value")'
        " |> map(fn: (r) => ({ r with _value: r._value * 2.0 + 1 }))"
        " |> group() |> max()"
    )
    # group before the aggregate re-keys the aggregate itself
    assert p.group_cols == ["user_id"]
    assert p.transforms[0] == (
        "pivot",
        {"row_key": ["_time"], "column_key": ["_field"],
         "value_column": "_value"},
    )
    name, params = p.transforms[1]
    assert name == "map" and params["target"] == "_value"
    assert params["expr_ast"] == (
        "bin", "+",
        ("bin", "*", ("field", "_value"), ("num", 2.0)),
        ("num", 1.0),
    )
    # group() after the aggregate is an ungroup transform stage
    assert p.transforms[2] == ("group", {"columns": []})
    assert p.transforms[3] == ("max", {})


def test_map_arith_parser_precedence_and_errors(spark):
    from pyspark.sql import functions as F

    from solar_logger_spark.query.flux_parser import (
        _ast_to_column, _parse_arith,
    )

    ast = _parse_arith('(r["a"] + 2) * -3.5')
    assert ast == (
        "bin", "*",
        ("bin", "+", ("field", "a"), ("num", 2.0)),
        ("neg", ("num", 3.5)),
    )
    # binds through the field map to a Spark Column
    col = _ast_to_column(ast, {"a": "value"})
    assert "value" in repr(col)
    import pytest

    with pytest.raises(ValueError):
        _parse_arith("r.a ** 2")  # unsupported operator
    with pytest.raises(ValueError):
        _parse_arith("(r.a + 1")  # unbalanced parens


def test_execute_pivot_and_bare_agg(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.flux_parser import parse_flux

    events = load_table(spark, sf_dir, "events")
    wide = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> aggregateWindow(every: 1d, fn: mean)"
            ' |> pivot(rowKey: ["_time"], columnKey: ["event_type"],'
            ' valueColumn: "_value")'
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    assert "ts" in wide.columns and "click" in wide.columns
    # one row per day — the row key is unique after the pivot
    days = [r.ts for r in wide.select("ts").collect()]
    assert len(days) == len(set(days))

    # bare last() per series vs. ungrouped global max()
    last = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> aggregateWindow(every: 1d, fn: mean) |> last()"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    assert sorted(last.columns) == ["event_type", "value"]
    gmax = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> aggregateWindow(every: 1d, fn: mean) |> group() |> max()"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
        .collect()
    )
    assert len(gmax) == 1 and list(gmax[0].asDict()) == ["value"]


def test_execute_pre_aggregate_group_rekeys(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.flux_parser import parse_flux

    events = load_table(spark, sf_dir, "events")
    out = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            ' |> group(columns: ["user_id"])'
            " |> aggregateWindow(every: 7d, fn: count)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    assert sorted(out.columns) == ["ts", "user_id", "value"]


def test_yield_is_noop_and_truncate_time(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.flux_parser import parse_flux

    events = load_table(spark, sf_dir, "events")
    # yield(name:) parses away; truncateTimeColumn floors the time column
    out = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            ' |> truncateTimeColumn(unit: 1h)'
            ' |> yield(name: "res")'
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    rows = out.select("ts").limit(50).collect()
    assert rows and all(
        r.ts.minute == 0 and r.ts.second == 0 for r in rows
    )


def test_histogram_and_quantile_stages(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.flux_parser import parse_flux

    events = load_table(spark, sf_dir, "events")
    hist = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> histogram(bins: [0.0, 50.0, 1000.0])"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
        .collect()
    )
    by_series = {}
    for r in hist:
        by_series.setdefault(r.event_type, []).append((r.le, r.value))
    for series, pairs in by_series.items():
        pairs.sort()
        counts = [v for _, v in pairs]
        # cumulative: monotone nondecreasing across bounds
        assert counts == sorted(counts)
        assert len(pairs) == 3
    q = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> quantile(q: 0.5)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
        .collect()
    )
    assert all(r.value is not None for r in q) and len(q) > 0


def test_parse_limit_with_offset():
    from solar_logger_spark.query.flux_parser import parse_flux

    p = parse_flux('from(bucket: "b") |> limit(n: 10, offset: 3)')
    assert p.limit == 10 and p.offset == 3


def test_parse_duplicate_and_window_and_nonneg():
    from solar_logger_spark.query.flux_parser import parse_flux

    p = parse_flux(
        'from(bucket: "b") |> window(every: 1h, offset: 10m) '
        '|> duplicate(column: "_value", as: "raw") '
        "|> derivative(nonNegative: true)"
    )
    names = [n for n, _ in p.transforms]
    assert names == ["window", "duplicate", "derivative"]
    params = dict(p.transforms)
    assert params["window"] == {"every": "1h", "offset": "10m"}
    assert params["duplicate"] == {"column": "_value", "as": "raw"}
    assert params["derivative"] == {"non_negative": True}


def test_parse_flux_script_join():
    from solar_logger_spark.query.flux_parser import parse_flux_script

    s = parse_flux_script(
        'a = from(bucket: "events") |> range(start: -5m)\n'
        'b = from(bucket: "events") |> range(start: -1h)\n'
        'join(tables: {a: a, b: b}, on: ["_time", "event_type"])'
    )
    assert set(s.pipelines) == {"a", "b"}
    assert s.combine == (
        "join",
        {"on": ["_time", "event_type"], "method": "inner"},
    )
    assert s.tables == ["a", "b"]
    assert s.post is None


def test_parse_flux_script_union_with_post_stages():
    from solar_logger_spark.query.flux_parser import parse_flux_script

    s = parse_flux_script(
        'a = from(bucket: "events")\n'
        'b = from(bucket: "events")\n'
        'union(tables: [a, b]) |> sort(columns: ["value"], desc: true) '
        "|> limit(n: 3)"
    )
    assert s.combine == ("union", None)
    assert s.post is not None
    assert s.post.limit == 3
    assert s.post.sorts == [("value", True)]


def test_parse_flux_script_continuation_lines():
    from solar_logger_spark.query.flux_parser import parse_flux_script

    s = parse_flux_script(
        'a = from(bucket: "events")\n'
        "    |> range(start: -5m)\n"
        'b = from(bucket: "events")\n'
        'join(tables: {a: a, b: b}, on: ["_time"])'
    )
    assert s.pipelines["a"].start == "-5m"


def test_parse_flux_script_requires_combine():
    import pytest as _pytest

    from solar_logger_spark.query.flux_parser import parse_flux_script

    with _pytest.raises(ValueError):
        parse_flux_script('a = from(bucket: "events")')


def test_parse_flux_script_unknown_table():
    import pytest as _pytest

    from solar_logger_spark.query.flux_parser import parse_flux_script

    with _pytest.raises(ValueError):
        parse_flux_script(
            'a = from(bucket: "events")\n'
            'join(tables: {a: a, b: missing}, on: ["_time"])'
        )


def test_parse_tail_sample_and_join_method():
    from solar_logger_spark.query.flux_parser import (
        parse_flux,
        parse_flux_script,
    )

    p = parse_flux(
        'from(bucket: "b") |> tail(n: 7) |> sample(n: 3, pos: 1)'
    )
    assert dict(p.transforms)["tail"] == {"n": 7}
    assert dict(p.transforms)["sample"] == {"n": 3, "pos": 1}
    s = parse_flux_script(
        'a = from(bucket: "events")\n'
        'b = from(bucket: "events")\n'
        'join(tables: {a: a, b: b}, on: ["_time"], method: "left")'
    )
    assert s.combine == ("join", {"on": ["_time"], "method": "left"})


def test_parse_flux_script_join_rejects_stray_quoted_args():
    import pytest as _pytest

    from solar_logger_spark.query.flux_parser import parse_flux_script

    # a quoted argument join() doesn't understand must raise, not leak
    # into the join keys
    with _pytest.raises(ValueError, match="unrecognized quoted"):
        parse_flux_script(
            'a = from(bucket: "events")\n'
            'b = from(bucket: "events")\n'
            'join(tables: {a: a, b: b}, on: ["_time"], suffix: "_r")'
        )


def test_parse_flux_script_join_multi_key_anchored_to_brackets():
    from solar_logger_spark.query.flux_parser import parse_flux_script

    s = parse_flux_script(
        'a = from(bucket: "events")\n'
        'b = from(bucket: "events")\n'
        'join(tables: {a: a, b: b}, on: ["_time", "event_type"], '
        'method: "inner")'
    )
    assert s.combine[1]["on"] == ["_time", "event_type"]


# --- property fuzz: script-statement splitting & join() argument
# extraction must be whitespace/order/decoy-insensitive ----------------

import hypothesis.strategies as _st
from hypothesis import given as _given, settings as _settings

_names = _st.sampled_from(["a", "b", "left1", "right2", "t_x"])
_keys = _st.lists(
    _st.sampled_from(["ts", "user_id", "event_type", "k1"]),
    min_size=1,
    max_size=3,
    unique=True,
)
_ws = _st.sampled_from(["", " ", "  ", "\t"])


@_settings(max_examples=150, deadline=None)
@_given(
    n1=_names,
    n2=_names,
    keys=_keys,
    w1=_ws,
    w2=_ws,
    w3=_ws,
    method=_st.sampled_from([None, "inner", "left"]),
    swap=_st.booleans(),
)
def test_fuzz_join_script_parses_exactly(n1, n2, keys, w1, w2, w3, method, swap):
    from solar_logger_spark.query.flux_parser import parse_flux_script

    if n1 == n2:
        n2 = n1 + "2"
    on = ", ".join(f'"{k}"' for k in keys)
    margs = f', method:{w2}"{method}"' if method else ""
    tbl = f"{{x:{w1}{n1}, y: {n2}}}"
    join_args = [f"tables:{w1}{tbl}", f"on:{w3}[{on}]{margs}"]
    if swap:
        join_args.reverse()
    script = (
        f'{n1} ={w1}from(bucket: "events") |> range(start: -5d)\n'
        f'{n2} = from(bucket:{w2} "events") |> range(start: -3d)\n'
        f"join({', '.join(join_args)})"
    )
    out = parse_flux_script(script)
    assert out.tables == [n1, n2]
    assert out.combine[0] == "join"
    assert out.combine[1]["on"] == keys
    assert out.combine[1]["method"] == (method or "inner")


@_settings(max_examples=60, deadline=None)
@_given(n1=_names, decoy=_st.sampled_from(["ts", "bogus", "left"]))
def test_fuzz_join_rejects_stray_quoted_args(n1, decoy):
    import pytest as _pytest

    from solar_logger_spark.query.flux_parser import parse_flux_script

    n2 = n1 + "2"
    script = (
        f'{n1} = from(bucket: "events") |> range(start: -5d)\n'
        f'{n2} = from(bucket: "events") |> range(start: -3d)\n'
        f'join(tables: {{x: {n1}, y: {n2}}}, on: ["ts"], frame: "{decoy}")'
    )
    with _pytest.raises(ValueError, match="unrecognized quoted"):
        parse_flux_script(script)


@_settings(max_examples=60, deadline=None)
@_given(
    names=_st.lists(
        _st.sampled_from(["a", "b", "c", "d"]),
        min_size=2,
        max_size=4,
        unique=True,
    ),
    w=_ws,
)
def test_fuzz_union_script_collects_known_tables(names, w):
    from solar_logger_spark.query.flux_parser import parse_flux_script

    defs = "\n".join(
        f'{n} = from(bucket: "events") |> range(start: -{i + 1}d)'
        for i, n in enumerate(names)
    )
    script = f"{defs}\nunion(tables:{w}[{', '.join(names)}])"
    out = parse_flux_script(script)
    assert out.combine == ("union", None)
    assert out.tables == names


def test_execute_text_interpolate_linear(spark):
    """r9: interpolate.linear through TEXT bit-matches the operator."""
    from datetime import datetime

    from pyspark.sql import Row

    from solar_logger_spark.operators import timeseries as T

    rows = [
        Row(ts=datetime(2024, 1, 1, 0, i), event_type="a",
            event_id=i,
            value=None if i in (2, 3, 7) else float(i) * 1.5 + 0.1)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> interpolate.linear()"
        )
        .to_builder(df, series_cols=("event_type",))
        .to_df()
    )
    want = T.interpolate_linear(
        df, ["event_type"], tiebreak=["event_id"], alias="_t"
    ).withColumn("value", __import__("pyspark").sql.functions.col("_t")).drop("_t")

    def hx(frame):
        return sorted(
            (r.ts, r.event_type,
             None if r.value is None else r.value.hex())
            for r in frame.select("ts", "event_type", "value").collect()
        )

    assert hx(got) == hx(want)
    # interior nulls filled, value preserved where present
    filled = {r[0]: r[2] for r in hx(got)}
    assert all(v is not None for v in filled.values())
    # every: is the unimplemented row-creation form — rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="row creation"):
        parse_flux(
            'from(bucket: "e") |> interpolate.linear(every: 1m)'
        )


def test_execute_text_holtwinters_and_integral(spark, sf_dir):
    """r9: holtWinters (seasonal + non-seasonal) and bare integral
    through TEXT bit-match their Python-API twins."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    filt = events.filter(F.col("ts") >= "2024-01-01")
    series = ["event_type"]
    tb = ["event_id"]

    def hx(frame, cols):
        return sorted(
            tuple(x.hex() if isinstance(x, float) else x for x in r)
            for r in frame.select(*cols).collect()
        )

    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> holtWinters(seasonality: 4, alpha: 0.5, beta: 0.2,"
            " gamma: 0.3)"
        )
        .to_builder(events, series_cols=tuple(series))
        .to_df()
    )
    want = T.holt_winters(
        filt, series, 4, tiebreak=tb, alpha=0.5, beta=0.2, gamma=0.3
    )
    cols = ["event_id", "level", "trend", "seasonal"]
    assert hx(got, cols) == hx(want, cols)

    got0 = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> holtWinters(alpha: 0.5)"
        )
        .to_builder(events, series_cols=tuple(series))
        .to_df()
    )
    want0 = T.holt_smoothing(filt, series, tiebreak=tb, alpha=0.5)
    cols0 = ["event_id", "level", "trend"]
    assert hx(got0, cols0) == hx(want0, cols0)

    # bare integral(unit: 10s): one row per series, trapezoid area
    goti = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> integral(unit: 10s)"
        )
        .to_builder(events, series_cols=tuple(series))
        .to_df()
    )
    rows = goti.collect()
    n_series = filt.select(*series).distinct().count()
    assert len(rows) == n_series
    assert all(isinstance(r.value, float) and r.value != 0.0 for r in rows)


def test_execute_text_relative_strength_index(spark, sf_dir):
    """r10: relativeStrengthIndex(n:) through TEXT == the native
    timeseries.rsi, value replaced in place (warm-up/flat rows null —
    the operator's documented divergence from Flux's row drop)."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> relativeStrengthIndex(n: 5)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    want = T.rsi(
        events.filter(F.col("ts") >= "2024-01-01"),
        n=5, series=["event_type"], tiebreak=["event_id"],
    )

    def hx(vals):
        return sorted(
            (r.ts, r.event_type, None if r.v is None else r.v.hex())
            for r in vals
        )

    a = hx(got.selectExpr("ts", "event_type", "value AS v").collect())
    b = hx(want.selectExpr("ts", "event_type", "rsi AS v").collect())
    assert a == b
    # default window is Flux's 14
    p = parse_flux('from(bucket: "e") |> relativeStrengthIndex()')
    assert ("relativeStrengthIndex", {"n": 14}) in p.transforms


def test_execute_text_cmo_and_kaufmans_er(spark, sf_dir):
    """r10: chandeMomentumOscillator(n:)/kaufmansER(n:) through TEXT ==
    the native transforms; n: is required at parse time (Flux has no
    default for either)."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")

    def hx(rows):
        return sorted(
            (r.ts, r.event_type, None if r.v is None else r.v.hex())
            for r in rows
        )

    for stage, fn, out_col in (
        ("chandeMomentumOscillator", T.cmo, "cmo"),
        ("kaufmansER", T.kaufmans_er, "er"),
    ):
        got = (
            parse_flux(
                'from(bucket: "e") |> range(start: 2024-01-01)'
                f" |> {stage}(n: 5)"
            )
            .to_builder(events, series_cols=("event_type",))
            .to_df()
        )
        want = fn(base, n=5, series=["event_type"], tiebreak=["event_id"])
        a = hx(got.selectExpr("ts", "event_type", "value AS v").collect())
        b = hx(want.selectExpr("ts", "event_type", f"{out_col} AS v").collect())
        assert a == b, stage
        import pytest as _pytest

        with _pytest.raises(ValueError, match="needs n:"):
            parse_flux(f'from(bucket: "e") |> {stage}()')


def test_execute_text_double_and_triple_ema(spark, sf_dir):
    """r10: doubleEMA(n:)/tripleEMA(n:) through TEXT == the native EMA
    tower; n: is required at parse time."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")

    def hx(rows):
        return sorted(
            (r.ts, r.event_type, None if r.v is None else r.v.hex())
            for r in rows
        )

    for stage, fn, out_col in (
        ("doubleEMA", T.double_ema, "dema"),
        ("tripleEMA", T.triple_ema, "tema"),
    ):
        got = (
            parse_flux(
                'from(bucket: "e") |> range(start: 2024-01-01)'
                f" |> {stage}(n: 4)"
            )
            .to_builder(events, series_cols=("event_type",))
            .to_df()
        )
        want = fn(base, n=4, series=["event_type"], tiebreak=["event_id"])
        a = hx(got.selectExpr("ts", "event_type", "value AS v").collect())
        b = hx(want.selectExpr("ts", "event_type", f"{out_col} AS v").collect())
        assert a == b, stage
        import pytest as _pytest

        with _pytest.raises(ValueError, match="needs n:"):
            parse_flux(f'from(bucket: "e") |> {stage}()')


def test_execute_text_trix(spark, sf_dir):
    """r11: tripleExponentialDerivative(n:) through TEXT == the native
    TRIX operator; n: is required at parse time."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")

    def hx(rows):
        return sorted(
            (r.ts, r.event_type, None if r.v is None else r.v.hex())
            for r in rows
        )

    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> tripleExponentialDerivative(n: 4)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    want = T.trix(base, n=4, series=["event_type"], tiebreak=["event_id"])
    a = hx(got.selectExpr("ts", "event_type", "value AS v").collect())
    b = hx(want.selectExpr("ts", "event_type", "trix AS v").collect())
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs n:"):
        parse_flux('from(bucket: "e") |> tripleExponentialDerivative()')


def test_execute_text_histogram_quantile(spark, sf_dir):
    """r11: histogram(bins:) |> histogramQuantile(quantile:) through
    TEXT == the native histogram_quantile over the same cumulative
    counts; quantile: is required at parse time, and the stage demands
    a histogram upstream (no 'le' column -> named error)."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")
    bins = [25.0, 50.0, 100.0, 250.0]

    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> histogram(bins: [25.0, 50.0, 100.0, 250.0])"
            " |> histogramQuantile(quantile: 0.75)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    hist = base.groupBy("event_type").agg(
        *[F.sum((F.col("value") <= b).cast("long")).alias(f"_b{i}")
          for i, b in enumerate(bins)]
    )
    pairs = F.array(*[
        F.struct(F.lit(b).alias("le"), F.col(f"_b{i}").cast("double").alias("c"))
        for i, b in enumerate(bins)
    ])
    long = hist.select(
        "event_type", F.explode(pairs).alias("_p")
    ).select("event_type", "_p.le", F.col("_p.c").alias("value"))
    want = T.histogram_quantile(
        long, q=0.75, series=["event_type"], count_col="value",
        alias="value",
    )
    a = sorted((r.event_type, r.value.hex()) for r in got.collect())
    b = sorted((r.event_type, r.value.hex()) for r in want.collect())
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs quantile:"):
        parse_flux('from(bucket: "e") |> histogramQuantile()')
    with _pytest.raises(ValueError, match="histogram"):
        (parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> histogramQuantile(quantile: 0.5)")
         .to_builder(events, series_cols=("event_type",)).to_df())


def test_execute_text_timed_moving_average(spark, sf_dir):
    """r9: timedMovingAverage(every:, period:) through TEXT ==
    aggregate_window(width=period, stride=every, fn=mean)."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators.window_agg import aggregate_window

    events = load_table(spark, sf_dir, "events")
    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> timedMovingAverage(every: 6h, period: 1d)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    want = aggregate_window(
        events.filter(F.col("ts") >= "2024-01-01"),
        every="1d", fn="mean", by=["event_type"], slide="6h",
    )

    def hx(frame):
        return sorted(
            (r.ts, r.event_type, r.value.hex())
            for r in frame.select("ts", "event_type", "value").collect()
        )

    assert hx(got) == hx(want)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="every.*period"):
        parse_flux('from(bucket: "e") |> timedMovingAverage(every: 6h)')


def test_timed_moving_average_rejects_period_below_every():
    """Spark window() requires stride <= width, and period < every is
    not a moving average — named parse-time error, not a plan-time
    AnalysisException (r9 review finding)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="period >= every"):
        parse_flux(
            'from(bucket: "e")'
            " |> timedMovingAverage(every: 1d, period: 6h)"
        )
    # equal is legal (tumbling mean)
    p = parse_flux(
        'from(bucket: "e") |> timedMovingAverage(every: 1d, period: 1d)'
    )
    assert dict(p.transforms)["timedMovingAverage"] == {
        "every": "1d", "period": "1d",
    }


def test_execute_text_mode_skew_kurtosis(spark, sf_dir):
    """r11: mode()/skew()/kurtosis() through TEXT — both as the
    aggregateWindow fn and as a bare per-series collapse — equal the
    native aggregate_window / agg_expr paths bitwise."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators.window_agg import (
        agg_expr, aggregate_window,
    )

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")

    def hx(rows):
        return sorted(
            (r.ts, r.event_type, None if r.v is None else r.v.hex())
            for r in rows
        )

    for fn in ("mode", "skew", "kurtosis"):
        got = (
            parse_flux(
                'from(bucket: "e") |> range(start: 2024-01-01)'
                f" |> aggregateWindow(every: 6h, fn: {fn})"
            )
            .to_builder(events, series_cols=("event_type",))
            .to_df()
        )
        want = aggregate_window(base, "6h", fn, by=["event_type"])
        a = hx(got.selectExpr("ts", "event_type", "value AS v").collect())
        b = hx(want.selectExpr("ts", "event_type", "value AS v").collect())
        assert a == b, fn

    # bare collapse: one row per series, time column dropped
    bare = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01) |> mode()'
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    assert "ts" not in bare.columns
    want = base.groupBy("event_type").agg(
        agg_expr("mode", "value", "ts").alias("value"))
    assert sorted((r.event_type, r.value) for r in bare.collect()) == sorted(
        (r.event_type, r.value) for r in want.collect())


def test_execute_text_kaufmans_ama(spark, sf_dir):
    """r11: kaufmansAMA(n:) through TEXT == the native
    timeseries.kaufmans_ama, value replaced in place; n: required at
    parse time (Flux has no default)."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> kaufmansAMA(n: 5)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    want = T.kaufmans_ama(
        events.filter(F.col("ts") >= "2024-01-01"),
        n=5, series=["event_type"], tiebreak=["event_id"],
    )

    def hx(rows):
        return sorted(
            (r.ts, r.event_type, None if r.v is None else r.v.hex())
            for r in rows
        )

    a = hx(got.selectExpr("ts", "event_type", "value AS v").collect())
    b = hx(want.selectExpr("ts", "event_type", "kama AS v").collect())
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs n:"):
        parse_flux('from(bucket: "e") |> kaufmansAMA()')


def test_execute_text_hour_selection(spark, sf_dir):
    """r11: hourSelection(start:, stop:) — BEFORE the aggregate it
    filters raw rows (hours inclusive, start > stop wraps midnight);
    AFTER it, it filters the aggregated rows by their window label's
    hour. Both required at parse time."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")

    # pre-agg: parsed position puts it on the builder, not transforms
    p = parse_flux(
        'from(bucket: "e") |> range(start: 2024-01-01)'
        " |> hourSelection(start: 9, stop: 17) |> count()"
    )
    assert p.hour_sel == (9, 17) and p.transforms == [("count", {})]
    got = {
        r.event_type: r.value
        for r in p.to_builder(events, series_cols=("event_type",))
        .to_df().collect()
    }
    want = {
        r.event_type: r.value
        for r in base.filter(F.hour("ts").between(9, 17))
        .groupBy("event_type").agg(F.count("value").alias("value"))
        .collect()
    }
    assert got == want

    # wrap: start > stop crosses midnight (22..23 + 0..2)
    wrapped = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> hourSelection(start: 22, stop: 2) |> count()"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    wrap_want = {
        r.event_type: r.value
        for r in base.filter((F.hour("ts") >= 22) | (F.hour("ts") <= 2))
        .groupBy("event_type").agg(F.count("value").alias("value"))
        .collect()
    }
    assert {
        r.event_type: r.value for r in wrapped.collect()
    } == wrap_want

    # post-agg position: filters aggregated rows by the LABEL's hour —
    # 6h stop-labels land on 00/06/12/18; keeping 6..13 keeps 06 and 12
    post = parse_flux(
        'from(bucket: "e") |> range(start: 2024-01-01)'
        " |> aggregateWindow(every: 6h, fn: mean)"
        " |> hourSelection(start: 6, stop: 13)"
    )
    assert post.hour_sel is None
    assert ("hourSelection", {"start": 6, "stop": 13}) in post.transforms
    hours = {
        r.ts.hour
        for r in post.to_builder(events, series_cols=("event_type",))
        .to_df().collect()
    }
    assert hours == {6, 12}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="start:\\+stop:"):
        parse_flux('from(bucket: "e") |> hourSelection(start: 9)')
    with _pytest.raises(ValueError, match="0..23"):
        parse_flux(
            'from(bucket: "e") |> hourSelection(start: 9, stop: 24)'
        ).to_builder(events)


def test_execute_text_selectors(spark, sf_dir):
    """r11: highest*/lowest* through TEXT == the native
    series_selector; n: required at parse time."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators.timeseries import series_selector

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")
    for stage, stat, lowest in (
        ("highestMax", "extreme", False),
        ("lowestAverage", "average", True),
        ("highestCurrent", "current", False),
    ):
        got = (
            parse_flux(
                'from(bucket: "e") |> range(start: 2024-01-01)'
                f' |> group(columns: ["user_id"]) |> {stage}(n: 5)'
            )
            .to_builder(events, series_cols=("event_type",))
            .to_df()
        )
        want = series_selector(
            base, 5, stat, lowest, ["user_id"], tiebreak=["event_id"]
        )
        cols = ["user_id", "value"]
        a = [tuple(r) for r in got.select(*cols).collect()]
        b = [tuple(r) for r in want.select(*cols).collect()]
        assert a == b, stage

    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs n:"):
        parse_flux('from(bucket: "e") |> highestMax()')


def test_execute_text_time_weighted_avg(spark, sf_dir):
    """r11: timeWeightedAvg(unit:) through TEXT == the native
    transform; unit cancels out of the quotient so any unit (or none)
    yields the same table."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators.timeseries import time_weighted_avg

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")
    want = sorted(
        (r.event_type, r.value.hex())
        for r in time_weighted_avg(
            base, ["event_type"], tiebreak=["event_id"]
        ).collect()
    )
    for unit in ("unit: 1s", "unit: 5m", ""):
        got = (
            parse_flux(
                'from(bucket: "e") |> range(start: 2024-01-01)'
                f" |> timeWeightedAvg({unit})"
            )
            .to_builder(events, series_cols=("event_type",))
            .to_df()
        )
        assert sorted(
            (r.event_type, r.value.hex()) for r in got.collect()
        ) == want, unit


def test_execute_text_type_conversions(spark):
    """r11: toFloat/toInt/toString/toBool over the value column.
    toInt truncates toward zero (Flux/Go semantics); toBool accepts
    only exact 0/1 and nulls everything else (documented divergence
    from Flux's hard error); toString uses Spark's cast rendering."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    vals = [2.7, -2.7, 1.0, 0.0, 3.5]
    df = spark.createDataFrame(
        [("a", base + timedelta(minutes=i), v) for i, v in enumerate(vals)],
        "event_type string, ts timestamp, value double",
    )

    def run(stage):
        return [
            r.value
            for r in parse_flux(
                'from(bucket: "e") |> range(start: 2024-01-01)'
                f" |> {stage}()"
            )
            .to_builder(df, series_cols=("event_type",))
            .to_df()
            .orderBy("ts")
            .collect()
        ]

    assert run("toInt") == [2, -2, 1, 0, 3]  # truncation toward zero
    assert run("toFloat") == vals
    assert run("toBool") == [None, None, True, False, None]
    assert run("toString") == ["2.7", "-2.7", "1.0", "0.0", "3.5"]


def test_roundtrip_renderer_r11_stages(spark, sf_dir):
    """r11: the new stages render to parseable corrected Flux and the
    reparsed pipeline reproduces the original rows — hourSelection
    (pre-agg builder form), a selector, a conversion, and the
    mode aggregate in one pipeline; timeWeightedAvg+kaufmansAMA in a
    second."""
    import re
    from datetime import datetime

    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.query.builder import QueryBuilder

    events = load_table(spark, sf_dir, "events")

    # a regex term compares by what it matches, not by its text
    probes = ["cl", "vi/ab/12", "cl\\/", "view/x", "vi12/3", "click"]

    def term(field, op, value):
        if op == "=~":
            value = [bool(re.search(value, s)) for s in probes]
        return field, op, value, type(value)

    def roundtrip(qb, source=events):
        text = qb.to_flux()
        parsed = parse_flux(text)
        # every filter term reads back as the same (field, op, value)
        assert [
            [term(f, op, v) for f, op, v, _ in band]
            for band in parsed.bands
        ] == [
            [term(p.field, p.op, p.value) for p in band.predicates]
            for band in qb._bands
        ], text
        reparsed = parsed.to_builder(
            source, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        )
        want = sorted(map(tuple, qb.to_df().collect()))
        got = sorted(map(tuple, reparsed.to_df().collect()))
        assert got == want and len(got) > 0, text
        return text

    roundtrip(
        QueryBuilder(
            events, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        )
        .range(datetime(2024, 1, 5), datetime(2024, 1, 25))
        .hour_selection(22, 2)  # renders + reparses the wrap form
        .aggregate_window("6h", "mode")
        .transform("toFloat")
        .transform("highestMax", n=3)
    )
    roundtrip(
        QueryBuilder(
            events, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        )
        .range(datetime(2024, 1, 5), datetime(2024, 1, 25))
        .aggregate_window("6h", "mean")
        .transform("kaufmansAMA", n=5)
        .transform("hourSelection", start=6, stop=13)
    )
    roundtrip(
        QueryBuilder(
            events, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        )
        .range(datetime(2024, 1, 5), datetime(2024, 1, 25))
        .transform("timeWeightedAvg")
    )

    def builder():
        return QueryBuilder(
            events, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        ).range(datetime(2024, 1, 5), datetime(2024, 1, 25))

    # filter_in renders as Flux's contains(value:, set:) and reads back
    # as the same IN term, whether it shares its band or stands alone
    roundtrip(builder().filter_in("event_type", ["click"]).filter(
        "value", 50.0, op="<"))
    roundtrip(builder().filter_in("event_type", ["click", "view"]))
    # limit keeps its offset; string values render double-quoted
    roundtrip(
        builder().filter("event_type", "purchase")
        .sort("event_id").limit(5, offset=3)
    )
    # a regex renders as Flux's /…/ literal, which may hold ")" and "|",
    # and a bool as true/false; both read back as the same term
    text = roundtrip(builder().filter("event_type", "^(cl|vi)", op="=~"))
    assert 'r["event_type"] =~ /^(cl|vi)/' in text
    # a bare slash renders as \/, every backslash pair (\/, \w) as
    # written, and the reparsed regex matches what the original does
    text = roundtrip(builder().filter("event_type", r"^(cl|vi)\/?\w*(/\d+)?$", op="=~"))
    assert r'r["event_type"] =~ /^(cl|vi)\/?\w*(\/\d+)?$/' in text
    flagged = events.withColumn("ok", F.col("value") > 50)
    text = roundtrip(
        QueryBuilder(
            flagged, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        ).filter("ok", True).filter("event_type", "view", op="!="),
        flagged,
    )
    assert 'r["ok"] == true' in text


def test_execute_text_state_changes_and_event_duration(spark, sf_dir):
    """r11: stateChanges(fn:) and events.duration(unit:) through TEXT
    == the native transforms."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators.timeseries import (
        event_duration, state_changes,
    )

    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.col("ts") >= "2024-01-01")

    got = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            ' |> stateChanges(fn: (r) => r["_value"] > 50)'
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    want = state_changes(
        base, F.col("value") > 50, ["event_type"], tiebreak=["event_id"]
    )
    a = sorted((r.event_id, r.state) for r in got.collect())
    b = sorted((r.event_id, r.state) for r in want.collect())
    assert a == b and len(a) > 0

    got_d = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> events.duration(unit: 1m)"
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    want_d = event_duration(
        base, ["event_type"], tiebreak=["event_id"], unit_seconds=60.0
    )

    def hx(rows):
        return sorted(
            (r.event_id, None if r.v is None else r.v.hex()) for r in rows
        )

    assert hx(got_d.selectExpr("event_id", "duration AS v").collect()) == hx(
        want_d.selectExpr("event_id", "duration AS v").collect()
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs fn:"):
        parse_flux('from(bucket: "e") |> stateChanges()')


def test_execute_text_set_stage(spark, sf_dir):
    """r11: set(key:, value:) adds/overwrites a string column — the
    tag-before-union idiom; key:+value: required at parse time."""
    from solar_logger_spark.io.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            ' |> aggregateWindow(every: 1d, fn: count)'
            ' |> set(key: "source", value: "prod-a")'
            ' |> set(key: "event_type", value: "tagged")'  # overwrite
        )
        .to_builder(events, series_cols=("event_type",))
        .to_df()
    )
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.source == "prod-a" for r in rows)
    assert all(r.event_type == "tagged" for r in rows)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs key:"):
        parse_flux('from(bucket: "e") |> set(key: "a")')


def test_parse_set_value_with_trailing_paren():
    """r12 (ADVICE low): a quoted value legitimately ending in ')' —
    the old rstrip-after-unquote corrupted "region(east)" to
    "region(east"; quoted tokens never include the call's closing
    paren, so nothing should be stripped. Key/value order-reversed
    form pins the same handling for key."""
    pipe = parse_flux(
        'from(bucket: "e") |> set(key: "src", value: "region(east)")'
    )
    [(name, params)] = [t for t in pipe.transforms if t[0] == "set"]
    assert params["value"] == "region(east)"
    assert params["key"] == "src"
    pipe2 = parse_flux(
        'from(bucket: "e") |> set(value: "x)", key: "k(1)")'
    )
    [(name2, params2)] = [t for t in pipe2.transforms if t[0] == "set"]
    assert params2["value"] == "x)"
    assert params2["key"] == "k(1)"


def test_map_expression_language_r12():
    """r12 (VERDICT task #4): conditionals, comparisons, and/or/not,
    string literals, and the strings.*/math.* call subset parse to
    pure-data ASTs; unsupported functions raise a named error."""
    import pytest

    from solar_logger_spark.query.flux_parser import _parse_arith

    ast = _parse_arith("if r._value >= 50.0 then 1.0 else 0.0")
    assert ast[0] == "if" and ast[1][0] == "cmp"
    ast = _parse_arith(
        'strings.replaceAll(v: r.name, t: "a", u: "b")'
    )
    assert ast == ("call", "strings.replaceAll",
                   [("field", "name"), ("str", "a"), ("str", "b")])
    ast = _parse_arith(
        "if strings.containsStr(v: r.t, substr: \"x\")"
        " and not r._value > 3.0 then r._value else -1.0"
    )
    assert ast[1][0] == "logic" and ast[1][3][0] == "not"
    assert _parse_arith("math.pow(x: r._value, y: 2.0)")[1] == "math.pow"
    with pytest.raises(ValueError, match="unsupported function"):
        _parse_arith("strings.rot13(v: r.t)")
    with pytest.raises(ValueError, match="named arguments"):
        _parse_arith("math.abs(3.0)")


def test_map_conditional_and_strings_execute(spark, sf_dir):
    """map() with if/then/else + strings/math calls compiles to native
    expressions and equals the hand-built frame."""
    from solar_logger_spark.io.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> map(fn: (r) => ({ r with band: "
            'if r._value >= 50.0 then strings.toUpper(v: r["_measurement"])'
            ' else strings.toLower(v: r["_measurement"]) }))'
            " |> map(fn: (r) => ({ r with dev: "
            "math.abs(x: r._value - 50.0) }))"
        )
        .to_builder(events, field_map={"_measurement": "event_type"},
                    ts_col="ts", value_col="value",
                    series_cols=("event_type",))
        .to_df()
    )
    import pyspark.sql.functions as F

    want = events.filter(F.col("ts") >= "2024-01-01").select(
        "event_id",
        F.when(F.col("value") >= 50.0, F.upper("event_type"))
        .otherwise(F.lower("event_type")).alias("band"),
        F.abs(F.col("value") - 50.0).alias("dev"),
    )
    got = {r.event_id: (r.band, r.dev)
           for r in out.select("event_id", "band", "dev").collect()}
    for r in want.collect():
        assert got[r.event_id] == (r.band, r.dev)


def test_reduce_lowering_and_execution(spark):
    """r12: reduce(fn:, identity:) — running count/sum/extremes lower
    to one native aggregate per series with fold-from-identity
    composition; unsupported accumulator shapes raise a named error."""
    import pytest
    from datetime import datetime, timedelta

    from solar_logger_spark.query.flux_parser import parse_flux

    rows = [
        ("a", datetime(2024, 1, 1) + timedelta(minutes=i), float(v), i)
        for i, v in enumerate([5.0, 9.0, 2.0])
    ] + [
        ("b", datetime(2024, 1, 1) + timedelta(minutes=i), float(v), 10 + i)
        for i, v in enumerate([7.0])
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, event_id long"
    )
    out = (
        parse_flux(
            'from(bucket: "e") |> range(start: 2024-01-01)'
            " |> reduce(fn: (r, accumulator) => ({ "
            "cnt: accumulator.cnt + 1.0, "
            "tot: accumulator.tot + r._value * 2.0, "
            "mx: if r._value > accumulator.mx then r._value"
            " else accumulator.mx, "
            "mn: if accumulator.mn < r._value then accumulator.mn"
            " else r._value }), "
            "identity: {cnt: 0.0, tot: 1.0, mx: -1.0, mn: 99.0})"
        )
        .to_builder(df, field_map={"_measurement": "event_type"},
                    ts_col="ts", value_col="value",
                    series_cols=("event_type",))
        .to_df()
    )
    got = {r.event_type: (r.cnt, r.tot, r.mx, r.mn) for r in out.collect()}
    assert got["a"] == (3.0, 1.0 + (5.0 * 2 + 9.0 * 2 + 2.0 * 2), 9.0, 2.0)
    assert got["b"] == (1.0, 15.0, 7.0, 7.0)

    with pytest.raises(ValueError, match="unsupported accumulator"):
        (
            parse_flux(
                'from(bucket: "e") |> reduce(fn: (r, accumulator) => '
                "({ z: accumulator.z * r._value }), identity: {z: 1.0})"
            )
            .to_builder(df, ts_col="ts", value_col="value",
                        series_cols=("event_type",))
            .to_df()
        )

    # renderer round-trip: the reduce stage re-renders its source
    qb = parse_flux(
        'from(bucket: "e") |> reduce(fn: (r, accumulator) => '
        "({ cnt: accumulator.cnt + 1.0 }), identity: {cnt: 0.0})"
    ).to_builder(df, ts_col="ts", value_col="value",
                 series_cols=("event_type",))
    text = qb.to_flux()
    assert "reduce(fn: (r, accumulator) => ({ cnt: accumulator.cnt + 1.0 })" in text
    assert "identity: {cnt: 0.0}" in text
    reparsed = parse_flux(text)
    assert [t[0] for t in reparsed.transforms] == ["reduce"]
