"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's example query,
``/root/reference/src/app/influx_query.py:93-99``: range + measurement
filter + aggregateWindow(mean) + sort) on sf0.001.

``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
beyond-reference scale operators) to a callable ``(spark, sf_dir) ->
DataFrame``; ``oracle_sql()`` holds the DuckDB-equivalent SQL. Column
names are aliased identically on both sides — the driver hash-compares
after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from solar_logger_spark.io.tables import load_table
from solar_logger_spark.operators.asof import latest_per_key, status_gate
from solar_logger_spark.operators.pivoting import pivot, unpivot
from solar_logger_spark.operators.dedup import simhash_oracle_sql
from solar_logger_spark.operators.text import lang_id_oracle_sql
from solar_logger_spark.queries import relational as rel
from solar_logger_spark.queries import scale_ops as sca
from solar_logger_spark.query.builder import QueryBuilder

SF_SMOKE = "/root/testdata/sf0.001"

# events spans 2024-01-01 .. 2024-01-30 (TESTDATA.md; generated seed=42)
T0 = datetime(2024, 1, 5)
T1 = datetime(2024, 1, 25)

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _events_qb(
    spark: SparkSession, sf_dir: str, t_range: tuple | None = None, **kw
) -> QueryBuilder:
    """``t_range=(t0, t1)`` additionally pushes the range as a raw-int64
    scan predicate (events.ts is stored as parquet TIMESTAMP(NANOS);
    post-conversion filters can't reach the scan — io.tables.read_parquet)."""
    ns_range = {"ts": t_range} if t_range else None
    return QueryBuilder(
        load_table(spark, sf_dir, "events", ns_range=ns_range),
        ts_col="ts",
        value_col="value",
        series_cols=("event_type",),
        **kw,
    )


# ---------------------------------------------------------------------------
# Flux pipeline surface (SURVEY.md §2: S1, P1-P5, A1/A2, O1)
# ---------------------------------------------------------------------------

def q_flux_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3+P5: range + OR-joined equality filters + projection."""
    return (
        _events_qb(spark, sf_dir, t_range=(T0, T1))
        .range(T0, T1)
        .filter("event_type", "click", joiner="or")
        .filter("event_type", "view", joiner="or")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .to_df()
    )


def q_flux_filter_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: conjunctive filter bands (chained Flux filter stages)."""
    return (
        _events_qb(spark, sf_dir, t_range=(T0, None))
        .range(T0)
        .filter("event_type", "purchase")
        .filter("value", 50.0, op=">", new_band=True)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .to_df()
    )


def _agg_query(fn: str):
    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _events_qb(spark, sf_dir, t_range=(T0, T1))
            .range(T0, T1)
            .aggregate_window("6h", fn)
            .to_df()
        )
    return _q


def q_flux_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: range + isin filter + window mean + sort (the
    reference's run_example, src/app/influx_query.py:93-99)."""
    return (
        _events_qb(spark, sf_dir, t_range=(T0, T1))
        .range(T0, T1)
        .filter_in("event_type", ["click", "view", "purchase"])
        .aggregate_window("1d", "mean")
        .sort("ts")
        .sort("event_type")
        .to_df()
    )


# ---------------------------------------------------------------------------
# Latest-per-key / status gate (SURVEY.md §2.3 J1, §2.5)
# ---------------------------------------------------------------------------

def q_asof_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return latest_per_key(
        events, ["user_id"], ts_col="ts", payload_cols=["event_type", "value"]
    )


def q_status_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    status = events.filter(F.col("event_type").isin("signup", "error")).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "signup", "online")
        .otherwise("offline")
        .alias("status"),
    )
    data = events.filter(F.col("event_type").isin("click", "view", "purchase"))
    return status_gate(data, status, ["user_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# Reshaping (SURVEY.md §2 T2/P5: unpivot fan-out; §1.3 wide views)
# ---------------------------------------------------------------------------

def q_unpivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return unpivot(events, ids=["event_id", "ts"], values=["value", "user_id"])


def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    long = events.select("user_id", F.col("event_type").alias("field"), "value")
    return pivot(long, ["user_id"], field_values=EVENT_TYPES, agg="avg")


def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (F5-F7 analog): JSON extraction + cast."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.col("value").cast("double").alias("value"),
    )


def q_json_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured props: parse_json once
    into the binary variant encoding, then typed variant_get paths —
    the scale posture for JSON columns (parse once, extract many;
    repeated get_json_object re-parses the string per extraction).
    Output matches json_props_extract so the same oracle applies."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return events.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.col("value").cast("double").alias("value"),
    )


def q_flux_agg_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregateWindow (Flux ``window(every: 6h, period:
    1d)``): 1-day windows sliding 6h — each event fans out to 4 windows
    JVM-side before one hash aggregation."""
    from solar_logger_spark.operators.window_agg import aggregate_window

    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return aggregate_window(
        events.filter((F.col("ts") >= T0) & (F.col("ts") < T1)),
        every="1d",
        slide="6h",
        fn="mean",
        by=["event_type"],
    )


SLIDING_AGG_SQL = f"""
    SELECT time_bucket(INTERVAL '6 hours', ts) - (k * INTERVAL '6 hours')
           + INTERVAL '1 day' AS ts,
           event_type, avg(value) AS value
    FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS s(k)
    WHERE {{range}}
    GROUP BY 1, 2
"""


def q_flux_agg_create_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateWindow with Flux's ``createEmpty`` semantics: hourly
    mean over a sparse series — windows with no input rows are emitted
    with a null value, spine pinned to the builder's range() bounds."""
    return (
        _events_qb(spark, sf_dir, t_range=(T0, T1))
        .range(T0, T1)
        .filter("event_type", "error")
        .aggregate_window("1h", "mean", create_empty=True)
        .to_df()
    )


CREATE_EMPTY_SQL = """
    WITH spine AS (
        SELECT ts_b FROM generate_series(
            TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-24 23:00:00',
            INTERVAL '1 hour') AS t(ts_b)
    ), keys AS (
        SELECT DISTINCT event_type FROM events
        WHERE {range} AND event_type = 'error'
    ), agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS ts_b, event_type,
               avg(value) AS value
        FROM events
        WHERE {range} AND event_type = 'error'
        GROUP BY 1, 2
    )
    SELECT spine.ts_b + INTERVAL '1 hour' AS ts, keys.event_type,
           agg.value AS value
    FROM spine CROSS JOIN keys
    LEFT JOIN agg ON agg.ts_b = spine.ts_b AND agg.event_type = keys.event_type
"""


def q_flux_agg_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateWindow(fn: integral): per-window trapezoidal area under
    each event-type series (Flux integral(unit: 1s))."""
    from solar_logger_spark.operators.window_agg import aggregate_window

    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return aggregate_window(
        events.filter((F.col("ts") >= T0) & (F.col("ts") < T1)),
        every="6h",
        fn="integral",
        by=["event_type"],
    )


INTEGRAL_SQL = """
    WITH seg AS (
        SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS w,
               (value + lag(value) OVER win) / 2
               * (epoch(ts) - lag(epoch(ts)) OVER win) AS area
        FROM events
        WHERE {range}
        WINDOW win AS (
            PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
            ORDER BY ts, value)
    )
    SELECT w + INTERVAL '6 hours' AS ts, event_type,
           coalesce(sum(area), 0.0) AS value
    FROM seg GROUP BY 1, 2
"""


def q_flux_agg_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateWindow(offset:) — bucket alignment shifted by 2h
    (Spark window startTime ↔ DuckDB time_bucket offset)."""
    from solar_logger_spark.operators.window_agg import aggregate_window

    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return aggregate_window(
        events.filter((F.col("ts") >= T0) & (F.col("ts") < T1)),
        every="6h",
        fn="mean",
        by=["event_type"],
        offset="2h",
    )


OFFSET_AGG_SQL = """
    SELECT time_bucket(INTERVAL '6 hours', ts, INTERVAL '2 hours')
           + INTERVAL '6 hours' AS ts,
           event_type, avg(value) AS value
    FROM events WHERE {range}
    GROUP BY 1, 2
"""


def q_flux_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A query arriving as Flux TEXT — in the reference's own broken
    output dialect (unclosed aggregateWindow paren, ' Or ' joiner,
    SURVEY §2.11.1) — parsed by query/flux_parser.py and executed with
    corrected semantics. This is the switch-over path for a reference
    user holding query strings."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click" Or '
        'r["_measurement"] == "view")'
        "\n\t|> aggregateWindow(every: 6h, fn: max"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_SQL = """
    SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
           event_type, max(value) AS value
    FROM events
    WHERE {range} AND (event_type = 'click' OR event_type = 'view')
    GROUP BY 1, 2
"""


def q_flux_text_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT with post-aggregate stdlib transform stages
    (``difference`` then ``cumulativeSum`` then ``stateCount``) — the
    pipeline shapes a Flux user grows into past the reference's emitted
    grammar, executed natively (query/builder.py transform stages over
    operators/timeseries.py)."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click" Or '
        'r["_measurement"] == "view")'
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> difference()"
        "\n\t|> cumulativeSum()"
        "\n\t|> stateCount(fn: (r) => r._value > 0)"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


def q_flux_text_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT ``relativeStrengthIndex(n:)`` — the momentum stage of
    the stdlib transform family, reaching the native
    ``operators.timeseries.rsi`` (already hash-verified standalone as
    ``ts_rsi_events``) through a parsed pipeline string. Value is
    replaced in place; warm-up rows and flat windows stay null (the
    operator's documented divergence from Flux's row drop)."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click")'
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> relativeStrengthIndex(n: 14)"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_RSI_SQL = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, avg(value) AS value
        FROM events
        WHERE {range} AND event_type = 'click'
        GROUP BY 1, 2
    ), d AS (
        SELECT ts, event_type,
               CAST(value - lag(value) OVER w AS DECIMAL(18,6)) AS diff
        FROM agg
        WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ), g AS (
        -- CASE, not greatest(): DuckDB's greatest() on decimals
        -- returns DOUBLE (the RSI_SQL lesson); null deltas stay null
        -- so cnt counts deltas
        SELECT *,
               CASE WHEN diff IS NULL THEN NULL
                    WHEN diff > 0 THEN diff
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS gain,
               CASE WHEN diff IS NULL THEN NULL
                    WHEN diff < 0 THEN -diff
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS loss
        FROM d
    ), s AS (
        SELECT ts, event_type,
               CAST(sum(gain) OVER c AS DOUBLE) AS sg,
               CAST(sum(loss) OVER c AS DOUBLE) AS sl,
               count(gain) OVER c AS cnt
        FROM g
        WINDOW c AS (PARTITION BY event_type ORDER BY ts
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT ts, event_type,
           CASE WHEN cnt >= 14 AND sg + sl > 0
                THEN 100.0 * sg / (sg + sl) END AS value
    FROM s
"""


def q_flux_text_hour_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT ``hourSelection(start:, stop:)`` — business-hours
    rows only (09:00–17:59, both hours inclusive per Flux), then a
    daily count per series. Placed BEFORE the aggregate it is a raw-
    row filter: a native ``hour(ts)`` conjunct that stays inside the
    scan's codegen stage (query/builder.py hour_selection)."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> hourSelection(start: 9, stop: 17)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click"'
        ' or r["_measurement"] == "view")'
        "\n\t|> aggregateWindow(every: 1d, fn: count)"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_HOUR_SELECTION_SQL = """
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, count(value) AS value
    FROM events
    WHERE {range} AND hour(ts) BETWEEN 9 AND 17
          AND (event_type = 'click' OR event_type = 'view')
    GROUP BY 1, 2
"""


def q_flux_text_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT ``timeWeightedAvg(unit:)``: whole-table trapezoid
    mean per series (operators/timeseries.time_weighted_avg). Exact
    scaled-int64 trapezoid terms over exact µs deltas, one mirrored
    float quotient at the end; ``unit`` cancels and is ignored."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click"'
        ' or r["_measurement"] == "view")'
        "\n\t|> timeWeightedAvg(unit: 1s)"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_TWA_SQL = """
    WITH x AS (
        SELECT event_type, ts, event_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS xi,
               epoch_us(ts) AS eus
        FROM events
        WHERE {range} AND (event_type = 'click' OR event_type = 'view')
    ), seg AS (
        SELECT event_type, eus,
               CAST(xi + lag(xi) OVER win AS HUGEINT)
                 * (eus - lag(eus) OVER win) AS t2
        FROM x
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, xi, event_id)
    )
    SELECT event_type,
           CASE WHEN max(eus) - min(eus) > 0
                THEN CAST(sum(t2) AS DOUBLE) / 200.0
                     / CAST(max(eus) - min(eus) AS DOUBLE)
           END AS value
    FROM seg GROUP BY event_type
"""


def q_flux_text_to_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT type conversion: daily counts cast back to float with
    ``toFloat()`` (int -> double is exact, so the oracle mirror is
    trivially deterministic; toInt/toString/toBool edge semantics are
    unit-test-pinned in test_flux_parser)."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "purchase")'
        "\n\t|> aggregateWindow(every: 1d, fn: count)"
        "\n\t|> toFloat()"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_TO_FLOAT_SQL = """
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, CAST(count(value) AS DOUBLE) AS value
    FROM events
    WHERE {range} AND event_type = 'purchase'
    GROUP BY 1, 2
"""


def q_flux_text_map_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT ``map()`` with the r12 expression-language extension
    (VERDICT task #4): an ``if/then/else`` conditional choosing
    between ``strings.toUpper``/``toLower`` calls, plus a ``math.abs``
    arithmetic rewrite — all compiled to native JVM expressions
    (query/flux_parser._ast_to_column; never a Python UDF). Every op
    is IEEE-exact/string-exact, so the oracle mirror hash-matches."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> map(fn: (r) => ({ r with band: "
        'if r._value >= 50.0 then strings.toUpper(v: r["_measurement"])'
        ' else strings.toLower(v: r["_measurement"]) }))'
        "\n\t|> map(fn: (r) => ({ r with dev: "
        "math.abs(x: r._value - 50.0) }))"
        '\n\t|> keep(columns: ["event_id", "band", "dev"])'
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_MAP_COND_SQL = """
    SELECT event_id,
           CASE WHEN value >= 50.0 THEN upper(event_type)
                ELSE lower(event_type) END AS band,
           abs(value - 50.0) AS dev
    FROM events
    WHERE {range}
"""


def q_flux_text_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT ``reduce(fn:, identity:)`` (r12, VERDICT task #4):
    running count + running max/min accumulators lowered to ONE native
    hash aggregate per series table (flux_parser._reduce_aggs) — the
    identity folds in as ``identity + SUM`` / ``greatest(identity,
    MAX)`` exactly as Flux's fold-from-identity defines. Count/extreme
    accumulators are order-free exact, so the mirror hash-matches."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> reduce(fn: (r, accumulator) => ({ "
        "cnt: accumulator.cnt + 1.0, "
        "mx: if r._value > accumulator.mx then r._value"
        " else accumulator.mx, "
        "mn: if r._value < accumulator.mn then r._value"
        " else accumulator.mn }), "
        "identity: {cnt: 0.0, mx: -1.0, mn: 99999.0})"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            field_map={"_measurement": "event_type"},
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_REDUCE_SQL = """
    SELECT event_type,
           0.0 + CAST(count(*) AS DOUBLE) AS cnt,
           greatest(-1.0, max(value)) AS mx,
           least(99999.0, min(value)) AS mn
    FROM events
    WHERE {range}
    GROUP BY event_type
"""


def q_flux_text_highest_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT ``highestMax(n:)`` over user-keyed series: the
    maximum record of each user's table, then the global top 10 of
    those records by value (operators/timeseries.series_selector).
    Per-series reduce is one ranked window; the selection is a
    TakeOrdered over |series| rows — never a full sort."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> group(columns: ["user_id"])'
        "\n\t|> highestMax(n: 10)"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
        .select("user_id", "ts", "value")
    )


FLUX_TEXT_HIGHEST_MAX_SQL = """
    WITH m AS (
        SELECT user_id, ts, value FROM events
        WHERE {range}
        QUALIFY row_number() OVER (
            PARTITION BY user_id
            ORDER BY value DESC, ts, event_id) = 1
    )
    SELECT user_id, ts, value FROM m
    ORDER BY value DESC, user_id LIMIT 10
"""


def q_flux_text_lowest_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux TEXT ``lowestAverage(n:)``: each user's table reduced to
    its mean (exact decimal sum, one float division — mirrored
    verbatim), then the bottom 10 means. Hash aggregate with map-side
    combine + TakeOrdered over |series| rows."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> group(columns: ["user_id"])'
        "\n\t|> lowestAverage(n: 10)"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events, ts_col="ts", value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
        .select("user_id", "value")
    )


FLUX_TEXT_LOWEST_AVERAGE_SQL = """
    WITH a AS (
        SELECT user_id,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               / count(value) AS value
        FROM events WHERE {range}
        GROUP BY user_id
    )
    SELECT user_id, value FROM a
    ORDER BY value ASC, user_id LIMIT 10
"""


FLUX_TEXT_TRANSFORMS_SQL = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, avg(value) AS value
        FROM events
        WHERE {range} AND (event_type = 'click' OR event_type = 'view')
        GROUP BY 1, 2
    ), diff AS (
        SELECT ts, event_type,
               value - lag(value) OVER (PARTITION BY event_type
                                        ORDER BY ts) AS value
        FROM agg
    ), kept AS (
        SELECT * FROM diff WHERE value IS NOT NULL
    ), cum AS (
        SELECT ts, event_type,
               sum(value) OVER (PARTITION BY event_type ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS value
        FROM kept
    ), flagged AS (
        SELECT ts, event_type, value, (value > 0) AS flag,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts) AS rn
        FROM cum
    ), marked AS (
        SELECT *, max(CASE WHEN NOT flag THEN rn END)
                  OVER (PARTITION BY event_type ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS last_off
        FROM flagged
    )
    SELECT ts, event_type, value,
           CAST(CASE WHEN flag THEN rn - coalesce(last_off, 0)
                     ELSE -1 END AS BIGINT) AS state_count
    FROM marked
"""


def q_flux_text_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``top(n:)`` via text: the 3 highest daily-mean values per
    series — one ranked window per series group, no global sort."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 1d, fn: mean)"
        "\n\t|> top(n: 3)"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_TOP_SQL = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range}
        GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, ts ASC) AS rk
        FROM agg
    )
    SELECT ts, event_type, value FROM ranked WHERE rk <= 3
"""


def q_flux_text_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``fill(value:)`` + ``unique()`` via text: empty windows
    filled with a sentinel, then the first occurrence (by event time) of
    each distinct value per series."""
    from solar_logger_spark.query.flux_parser import parse_flux

    text = (
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 6h, fn: count, createEmpty: true)"
        "\n\t|> fill(value: 0)"
        "\n\t|> unique()"
    )
    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    return (
        parse_flux(text)
        .to_builder(
            events,
            ts_col="ts",
            value_col="value",
            series_cols=("event_type",),
        )
        .to_df()
    )


FLUX_TEXT_UNIQUE_SQL = """
    WITH keys AS (
        SELECT DISTINCT event_type FROM events WHERE {range}
    ), spine AS (
        SELECT unnest(generate_series(
            TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25' - INTERVAL '6 hours',
            INTERVAL '6 hours')) AS wstart
    ), agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart, event_type,
               count(value) AS value
        FROM events WHERE {range}
        GROUP BY 1, 2
    ), grid AS (
        SELECT s.wstart + INTERVAL '6 hours' AS ts, k.event_type,
               coalesce(a.value, 0) AS value
        FROM spine s CROSS JOIN keys k
        LEFT JOIN agg a ON a.wstart = s.wstart AND a.event_type = k.event_type
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type, value
                                     ORDER BY ts ASC) AS rk
        FROM grid
    )
    SELECT ts, event_type, CAST(value AS BIGINT) AS value
    FROM ranked WHERE rk = 1
"""


def _flux_text_events(spark, sf_dir, text, **kw):
    from solar_logger_spark.query.flux_parser import parse_flux

    events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
    kw.setdefault("ts_col", "ts")
    kw.setdefault("value_col", "value")
    kw.setdefault("series_cols", ("event_type",))
    return parse_flux(text).to_builder(events, **kw).to_df()


def q_flux_text_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``pivot(rowKey:, columnKey:, valueColumn:)`` via text: the
    long point stream reshaped wide — one row per day, one column per
    series (SURVEY §1.3's long↔wide duality as a pipeline stage)."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 1d, fn: mean)"
        '\n\t|> pivot(rowKey: ["_time"], columnKey: ["event_type"], '
        'valueColumn: "_value")',
    )


FLUX_TEXT_PIVOT_SQL = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range}
        GROUP BY 1, 2
    )
    SELECT ts,
           max(value) FILTER (WHERE event_type = 'click') AS click,
           max(value) FILTER (WHERE event_type = 'error') AS error,
           max(value) FILTER (WHERE event_type = 'purchase') AS purchase,
           max(value) FILTER (WHERE event_type = 'signup') AS signup,
           max(value) FILTER (WHERE event_type = 'view') AS view
    FROM agg GROUP BY ts
"""


def q_flux_text_bare_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux bare aggregate ``|> last()`` via text: collapse each series
    to its final windowed value (time-ordered last = ``max_by``, a
    single hash aggregate — no sort)."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> last()",
    )


FLUX_TEXT_BARE_AGG_SQL = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range}
        GROUP BY 1, 2
    )
    SELECT event_type, arg_max(value, ts) AS value FROM agg GROUP BY 1
"""


def q_flux_text_group_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``group()`` (ungroup) + bare ``max()`` via text: drop the
    series key after the window aggregate, then take the global max —
    the Flux re-keying idiom."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> group()"
        "\n\t|> max()",
    )


FLUX_TEXT_GROUP_MAX_SQL = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range}
        GROUP BY 1, 2
    )
    SELECT max(value) AS value FROM agg
"""


def q_flux_text_group_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``group(columns:)`` BEFORE the aggregate via text: re-key
    the windowed aggregate by a different column (user_id) than the
    builder's default series — position-sensitive parsing."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> group(columns: ["user_id"])'
        "\n\t|> aggregateWindow(every: 1d, fn: count)",
    )


FLUX_TEXT_GROUP_KEYS_SQL = """
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           user_id, count(value) AS value
    FROM events WHERE {range}
    GROUP BY 1, 2
"""


def q_flux_text_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``map(fn: (r) => ({ r with _value: ... }))`` via text: the
    record-rewrite idiom with a restricted arithmetic expression,
    compiled to a JVM column expression (no Python in the hot path)."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 1d, fn: mean)"
        "\n\t|> map(fn: (r) => ({ r with _value: "
        "(r._value * 2.0 + 1.0) / 2 }))",
    )


FLUX_TEXT_MAP_SQL = """
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, (avg(value) * 2.0 + 1.0) / 2 AS value
    FROM events WHERE {range}
    GROUP BY 1, 2
"""


def q_flux_text_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``histogram(bins:)`` via text: per-series cumulative counts
    at each upper bound — one conditional hash aggregate, the bin
    fan-out happens in-executor after the shuffle."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> histogram(bins: [25.0, 50.0, 100.0, 250.0])",
    )


FLUX_TEXT_HISTOGRAM_SQL = """
    SELECT event_type, b.le,
           CAST(count(*) FILTER (WHERE value <= b.le) AS DOUBLE) AS value
    FROM events, (VALUES (25.0), (50.0), (100.0), (250.0)) b(le)
    WHERE {range}
    GROUP BY 1, 2
"""


def q_flux_text_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``histogram(bins:) |> histogramQuantile(quantile: 0.9)``
    via text: the cumulative-histogram quantile estimate — linear
    interpolation inside the first bin whose cumulative count reaches
    ``q·total`` (operators/timeseries.histogram_quantile; the oracle
    mirrors the bin selection and interpolation verbatim). The
    histogram is one conditional hash aggregate; the quantile pass is
    a window + min_by over the |bins|-sized histogram — never
    data-sized."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> histogram(bins: [25.0, 50.0, 100.0, 250.0])"
        "\n\t|> histogramQuantile(quantile: 0.9)",
    )


FLUX_TEXT_HIST_QUANTILE_SQL = """
    WITH h AS (
        SELECT event_type, b.le,
               CAST(count(*) FILTER (WHERE value <= b.le) AS DOUBLE) AS c
        FROM events, (VALUES (25.0), (50.0), (100.0), (250.0)) b(le)
        WHERE {range}
        GROUP BY 1, 2
    ), x AS (
        SELECT event_type, le, c,
               coalesce(lag(c) OVER w, 0.0) AS pc,
               coalesce(lag(le) OVER w, 0.0) AS pl,
               max(c) OVER (PARTITION BY event_type) AS tot
        FROM h
        WINDOW w AS (PARTITION BY event_type ORDER BY le)
    )
    SELECT event_type,
           min_by(pl + (le - pl) * ((0.9 * tot - pc) / (c - pc)), le)
               AS value
    FROM x
    WHERE c >= 0.9 * tot AND c > pc
    GROUP BY event_type
"""


def q_flux_text_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``quantile(q:)`` via text as the exact linearly-interpolated
    per-series quantile (documented divergence from Flux's t-digest
    default — exact is reproducible; sketches cover the estimating
    path)."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> quantile(q: 0.9)",
    )


FLUX_TEXT_QUANTILE_SQL = """
    SELECT event_type, quantile_cont(value, 0.9) AS value
    FROM events WHERE {range}
    GROUP BY 1
"""


def q_flux_text_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``window(every:) |> mean()`` via text — the regroup-then-
    bare-aggregate idiom (window assigns bounds, the aggregate collapses
    per (series, window)). Plans identically to ``aggregateWindow``:
    one hash aggregation, map-side combinable."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> window(every: 1d)"
        "\n\t|> mean()",
    )


FLUX_TEXT_WINDOW_AGG_SQL = """
    SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS window_start,
           avg(value) AS value
    FROM events WHERE {range}
    GROUP BY 1, 2
"""


def q_flux_text_dup_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``duplicate(column:, as:)`` + ``limit(n:, offset:)`` via
    text: column copy is a pure projection; offset+limit over the sorted
    stream plans as a distributed top-(offset+n) then a front skip."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> duplicate(column: "_value", as: "raw")'
        '\n\t|> sort(columns: ["event_id"])'
        "\n\t|> limit(n: 50, offset: 10)",
    )


FLUX_TEXT_DUP_LIMIT_SQL = """
    SELECT event_id, ts, user_id, event_type, props, value, value AS raw
    FROM events WHERE {range}
    ORDER BY event_id LIMIT 50 OFFSET 10
"""


def _flux_script_events(spark, sf_dir, text, **kw):
    from solar_logger_spark.query.flux_parser import parse_flux_script

    kw.setdefault("ts_col", "ts")
    kw.setdefault("value_col", "value")
    kw.setdefault("series_cols", ("event_type",))
    return parse_flux_script(text).to_df(
        lambda bucket: load_table(
            spark, sf_dir, bucket, ns_range={"ts": (T0, T1)}
        ),
        **kw,
    )


def q_flux_script_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``join(tables:, on:)`` script: two named pipelines (daily
    click mean, daily purchase mean) equi-joined on window time.
    Colliding non-key columns take the Flux ``_<table>`` suffix. Both
    sides aggregate before joining, so the join input is |days|×|types|
    rows — the shuffle is output-bounded."""
    return _flux_script_events(
        spark, sf_dir,
        'clicks = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "click")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'purch = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "purchase")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'join(tables: {clicks: clicks, purch: purch}, on: ["_time"])',
    )


FLUX_SCRIPT_JOIN_SQL = """
    WITH clicks AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range} AND event_type = 'click'
        GROUP BY 1, 2
    ), purch AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range} AND event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT c.ts,
           c.event_type AS event_type_clicks, c.value AS value_clicks,
           p.event_type AS event_type_purch, p.value AS value_purch
    FROM clicks c JOIN purch p ON c.ts = p.ts
"""


def q_flux_text_tail_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``tail(n:)`` then ``sample(n:, pos:)`` via text: last 20
    records per series (ranked window on a descending event-time sort),
    then every 2nd of those — both one analytic window over the same
    series partitioning, no global sort."""
    return _flux_text_events(
        spark, sf_dir,
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> tail(n: 20)"
        "\n\t|> sample(n: 2, pos: 0)",
    )


FLUX_TEXT_TAIL_SAMPLE_SQL = """
    WITH tailed AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type
            ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE {range}
    ), kept AS (
        SELECT event_id, ts, user_id, event_type, props, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY ts ASC, event_id ASC) AS rk2
        FROM tailed WHERE rk <= 20
    )
    SELECT event_id, ts, user_id, event_type, props, value
    FROM kept WHERE (rk2 - 1) % 2 = 0
"""


def q_flux_script_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``join(method: "left")``: daily click means left-joined to
    daily error means — days without errors survive with null right
    columns."""
    return _flux_script_events(
        spark, sf_dir,
        'clicks = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "click")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'errs = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "error")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'join(tables: {clicks: clicks, errs: errs}, on: ["_time"], '
        'method: "left")',
    )


FLUX_SCRIPT_JOIN_LEFT_SQL = """
    WITH clicks AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range} AND event_type = 'click'
        GROUP BY 1, 2
    ), errs AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {range} AND event_type = 'error'
        GROUP BY 1, 2
    )
    SELECT c.ts,
           c.event_type AS event_type_clicks, c.value AS value_clicks,
           e.event_type AS event_type_errs, e.value AS value_errs
    FROM clicks c LEFT JOIN errs e ON c.ts = e.ts
"""


def q_flux_script_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``union(tables:)`` script: the same two named pipelines
    concatenated (UNION ALL semantics, schema aligned by name)."""
    return _flux_script_events(
        spark, sf_dir,
        'clicks = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "click")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'purch = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "purchase")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        "union(tables: [clicks, purch])",
    )


FLUX_SCRIPT_UNION_SQL = """
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, avg(value) AS value
    FROM events WHERE {range} AND event_type = 'click'
    GROUP BY 1, 2
    UNION ALL
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, avg(value) AS value
    FROM events WHERE {range} AND event_type = 'purchase'
    GROUP BY 1, 2
"""


def q_flux_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 extended ops: regex (=~), inequality (!=, <=) predicates in
    one pipeline — the remaining filter operators of the builder."""
    return (
        _events_qb(spark, sf_dir)
        .filter("event_type", "^(cl|vi)", op="=~")
        .filter("event_type", "view", op="!=", new_band=True)
        .filter("value", 30.0, op="<=", new_band=True)
        .select("event_id", "ts", "event_type", "value")
        .to_df()
    )


REGEX_FILTER_SQL = """
    SELECT event_id, ts, event_type, value FROM events
    WHERE regexp_matches(event_type, '^(cl|vi)')
      AND event_type <> 'view' AND value <= 30.0
"""


def q_packet_decode_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest decode path (SURVEY §2.8 F1-F6, §2.9 T1/T2) in batch form:
    events → wire-format binary packets (4-byte LE epoch + packed
    channels + padding) → ``decode_packets`` → canonical points. The
    oracle recomputes the fan-out relationally, so the hash compare
    verifies the whole binary encode/decode/unpivot plan end-to-end."""
    from solar_logger_spark.streaming.decode import (
        decode_packets, synthetic_packet_udf,
    )

    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # route rows across all three packet types (device fleets interleave)
    measurement = (
        F.when(F.col("event_id") % 3 == 0, "dc-1")
        .when(F.col("event_id") % 3 == 1, "fx-1")
        .otherwise("mx-1")
    )
    tagged = events.withColumn("measurement", measurement)
    streams = []
    for m in ("dc-1", "fx-1", "mx-1"):
        streams.append(
            tagged.filter(F.col("measurement") == m).select(
                "measurement",
                synthetic_packet_udf(m)(
                    F.unix_timestamp("ts").cast("int"), F.col("value")
                ).alias("payload"),
            )
        )
    packets = streams[0].unionByName(streams[1]).unionByName(streams[2])
    # measured r13: spreading the events scan before the branch split
    # LOSES here (1.89 -> 2.4 s even with a post-union coalesce) — the
    # Arrow encode/decode kernels amortize better over 3 full branch
    # partitions than over 3x32 shards plus an exchange
    return decode_packets(packets)


def _packet_decode_oracle() -> str:
    from solar_logger_spark.streaming.decode import MEASUREMENT_FIELDS

    parts = []
    for mod, m in [(0, "dc-1"), (1, "fx-1"), (2, "mx-1")]:
        values = ", ".join(
            f"('{f}', {i})" for i, f in enumerate(MEASUREMENT_FIELDS[m])
        )
        parts.append(f"""
        SELECT '{m}' AS measurement,
               date_trunc('second', e.ts) AS ts,
               f.field,
               e.value + f.i AS value
        FROM events e
        CROSS JOIN (VALUES {values}) AS f(field, i)
        WHERE e.value IS NOT NULL AND e.event_id % 3 = {mod}""")
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flux_pipeline_full(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "flux_range_filter": q_flux_range_filter,
        "flux_filter_bands": q_flux_filter_bands,
        "flux_pipeline_full": q_flux_pipeline_full,
        "asof_latest": q_asof_latest,
        "status_gate": q_status_gate,
        "unpivot_events": q_unpivot_events,
        "pivot_event_types": q_pivot_event_types,
        "json_props_extract": q_json_props_extract,
        "json_variant_props": q_json_variant_props,
        "packet_decode_points": q_packet_decode_points,
        "flux_regex_filter": q_flux_regex_filter,
        "flux_agg_create_empty": q_flux_agg_create_empty,
        "flux_agg_integral": q_flux_agg_integral,
        "flux_text_pipeline": q_flux_text_pipeline,
        "flux_text_transforms": q_flux_text_transforms,
        "flux_text_rsi": q_flux_text_rsi,
        "flux_text_hour_selection": q_flux_text_hour_selection,
        "flux_text_highest_max": q_flux_text_highest_max,
        "flux_text_lowest_average": q_flux_text_lowest_average,
        "flux_text_twa": q_flux_text_twa,
        "flux_text_to_float": q_flux_text_to_float,
        "flux_text_map_cond": q_flux_text_map_cond,
        "flux_text_reduce": q_flux_text_reduce,
        "flux_text_top": q_flux_text_top,
        "flux_text_unique": q_flux_text_unique,
        "flux_agg_offset": q_flux_agg_offset,
        "flux_text_pivot": q_flux_text_pivot,
        "flux_text_bare_agg": q_flux_text_bare_agg,
        "flux_text_group_max": q_flux_text_group_max,
        "flux_text_group_keys": q_flux_text_group_keys,
        "flux_text_map": q_flux_text_map,
        "flux_text_histogram": q_flux_text_histogram,
        "flux_text_hist_quantile": q_flux_text_hist_quantile,
        "flux_text_quantile": q_flux_text_quantile,
        "flux_text_window_agg": q_flux_text_window_agg,
        "flux_text_dup_limit": q_flux_text_dup_limit,
        "flux_script_join": q_flux_script_join,
        "flux_script_union": q_flux_script_union,
        "flux_text_tail_sample": q_flux_text_tail_sample,
        "flux_script_join_left": q_flux_script_join_left,
    }
    for fn in ("mean", "min", "max", "sum", "count", "first", "last",
               "median", "stddev", "spread", "mode", "skew", "kurtosis"):
        out[f"flux_agg_{fn}"] = _agg_query(fn)
    out.update(
        {
            "tpch_q1_pricing_summary": rel.tpch_q1,
            "tpch_q3_shipping_priority": rel.tpch_q3,
            "tpch_q5_nation_revenue": rel.tpch_q5,
            "join_part_brand_volume": rel.join_part_brand_volume,
            "topk_orders_per_customer": rel.topk_orders_per_customer,
            "distinct_users_per_type": rel.distinct_users_per_type,
            "set_purchase_days_without_errors": rel.set_purchase_days_without_errors,
            "rollup_event_counts": rel.rollup_event_counts,
            "sessionize_events": rel.sessionize_events,
            "asof_purchase_attribution": rel.asof_purchase_attribution,
            "tpch_q6_forecast_revenue": rel.tpch_q6,
            "tpch_q4_order_priority": rel.tpch_q4_shape,
            "tpch_q10_returned_items": rel.tpch_q10,
            "tpch_q18_large_orders": rel.tpch_q18_shape,
            "tpch_q17_small_qty_revenue": rel.tpch_q17_shape,
            "anti_join_never_ordered_parts": rel.anti_join_never_ordered_parts,
            "window_running_totals": rel.window_running_totals,
            "window_moving_avg": rel.window_moving_avg,
            "flux_agg_sliding": q_flux_agg_sliding,
            "tpch_q7_bination_volume": rel.tpch_q7_shape,
            "tpch_q9_product_profit": rel.tpch_q9_shape,
            "tpch_q19_discounted_revenue": rel.tpch_q19_shape,
            "cube_returnflag_status": rel.cube_returnflag_status,
            "tpch_q8_market_share": rel.tpch_q8_shape,
            "tpch_q12_late_priority": rel.tpch_q12_shape,
            "tpch_q13_order_distribution": rel.tpch_q13_shape,
            "tpch_q14_promo_share": rel.tpch_q14_shape,
            "tpch_q15_top_supplier": rel.tpch_q15_shape,
            "tpch_q16_supplier_counts": rel.tpch_q16_shape,
            "tpch_q22_dormant_customers": rel.tpch_q22_shape,
            "tpch_q2_min_cost_supplier": rel.tpch_q2_shape,
            "tpch_q11_important_stock": rel.tpch_q11_shape,
            "tpch_q20_part_promotion": rel.tpch_q20_shape,
            "tpch_q21_waiting_suppliers": rel.tpch_q21_shape,
            "funnel_conversion_events": rel.funnel_conversion_events,
            "retention_cohorts_events": rel.retention_cohorts_events,
            "interval_click_attribution": rel.interval_click_attribution,
        }
    )
    out.update(
        {
            "dedup_exact_docs": sca.dedup_exact_docs,
            "dedup_ngram_jaccard_docs": sca.dedup_ngram_jaccard_docs,
            "dedup_minhash_lsh_docs": sca.dedup_minhash_lsh_docs,
            "dedup_simhash_docs": sca.dedup_simhash_docs,
            "text_fingerprint_docs": sca.text_fingerprint_docs,
            "text_token_stats_docs": sca.text_token_stats_docs,
            "text_quality_score_docs": sca.text_quality_score_docs,
            "text_lang_id_docs": sca.text_lang_id_docs,
            "similarity_cosine_topk": sca.similarity_cosine_topk,
            "contrastive_hard_negatives": sca.contrastive_hard_negatives,
            "embedding_neardup_pairs": sca.embedding_neardup_pairs,
            "similarity_ann_lsh": sca.similarity_ann_lsh,
            "similarity_ann_ivf": sca.similarity_ann_ivf,
            "multimodal_blob_meta": sca.multimodal_blob_meta,
            "multimodal_decode_features": sca.multimodal_decode_features,
            "multimodal_frame_sample": sca.multimodal_frame_sample,
            "text_tfidf_top_terms": sca.text_tfidf_top_terms,
            "value_percentiles": sca.value_percentiles,
            "ts_difference_events": sca.ts_difference_events,
            "ts_derivative_events": sca.ts_derivative_events,
            "ts_cumulative_sum_events": sca.ts_cumulative_sum_events,
            "ts_forward_fill_events": sca.ts_forward_fill_events,
            "ts_increase_events": sca.ts_increase_events,
            "text_bpe_token_count": sca.text_bpe_token_count,
            "value_histogram": sca.value_histogram,
            "dedup_cluster_assignments": sca.dedup_cluster_assignments,
            "sample_hash_fraction": sca.sample_hash_fraction,
            "sample_split_counts": sca.sample_split_counts,
            "sample_stratified_docs": sca.sample_stratified_docs,
            "text_chunk_docs": sca.text_chunk_docs,
            "ts_elapsed_events": sca.ts_elapsed_events,
            "ts_moving_average_events": sca.ts_moving_average_events,
            "sketch_distinct_users_daily": sca.sketch_distinct_users_daily,
            "sketch_heavy_hitters": sca.sketch_heavy_hitters,
            "text_bm25_topk_docs": sca.text_bm25_topk_docs,
            "similarity_ann_pq": sca.similarity_ann_pq,
            "similarity_ann_ivfpq": sca.similarity_ann_ivfpq,
            "ann_maintained_build": sca.ann_maintained_build,
            "ann_maintained_search": sca.ann_maintained_search,
            "ts_ema_events": sca.ts_ema_events,
            "ts_state_count_events": sca.ts_state_count_events,
            "ts_state_duration_events": sca.ts_state_duration_events,
            "ts_state_changes_events": sca.ts_state_changes_events,
            "ts_event_duration_events": sca.ts_event_duration_events,
            "dedup_ngram_span_coverage": sca.dedup_ngram_span_coverage,
            "text_unigram_rarity_docs": sca.text_unigram_rarity_docs,
            "ts_derivative_nonneg_events": sca.ts_derivative_nonneg_events,
            "text_repetition_signals_docs": sca.text_repetition_signals_docs,
            "embedding_label_centroids": sca.embedding_label_centroids,
            "embedding_semantic_dedup": sca.embedding_semantic_dedup,
            "dedup_benchmark_contamination": sca.dedup_benchmark_contamination,
            "corpus_stats_by_source": sca.corpus_stats_by_source,
            "text_word_freq_spectrum": sca.text_word_freq_spectrum,
            "text_pack_sequences_docs": sca.text_pack_sequences_docs,
            "text_pii_scrub_docs": sca.text_pii_scrub_docs,
            "corpus_mix_weights": sca.corpus_mix_weights,
            "text_training_order": sca.text_training_order,
            "corpus_length_quantiles": sca.corpus_length_quantiles,
            "text_bpe_merge_candidates": sca.text_bpe_merge_candidates,
            "text_bpe_encode_docs": sca.text_bpe_encode_docs,
            "basket_affinity_parts": sca.basket_affinity_parts,
            "multimodal_decode_ppm": sca.multimodal_decode_ppm,
            "embedding_pca_project": sca.embedding_pca_project,
            "embedding_jl_project": sca.embedding_jl_project,
            "text_length_bucketed_batches": sca.text_length_bucketed_batches,
            "corpus_content_fingerprints": sca.corpus_content_fingerprints,
            "join_salted_brand_volume": sca.join_salted_brand_volume,
            "agg_two_phase_event_value": sca.agg_two_phase_event_value,
            "quality_expectation_suite": sca.quality_expectation_suite,
            "text_trigram_lm_quality": sca.text_trigram_lm_quality,
            "er_fuzzy_match_parts": sca.er_fuzzy_match_parts,
            "ts_anomaly_zscore_events": sca.ts_anomaly_zscore_events,
            "ts_interpolate_linear_events": sca.ts_interpolate_linear_events,
            "flux_correlation_click_view": sca.flux_correlation_click_view,
            "ts_anomaly_mad_events": sca.ts_anomaly_mad_events,
            "embedding_quantize_int8": sca.embedding_quantize_int8,
            "embedding_cluster_balance": sca.embedding_cluster_balance,
            "text_dsir_weights": sca.text_dsir_weights,
            "pipeline_corpus_build": sca.pipeline_corpus_build,
            "text_classifier_score_docs": sca.text_classifier_score_docs,
            "ts_cusum_events": sca.ts_cusum_events,
            "ts_holt_smoothing_events": sca.ts_holt_smoothing_events,
            "ts_holtwinters_events": sca.ts_holtwinters_events,
            "dedup_scrub_duplicate_spans": sca.dedup_scrub_duplicate_spans,
            "ts_rsi_events": sca.ts_rsi_events,
            "ts_cmo_events": sca.ts_cmo_events,
            "ts_dema_events": sca.ts_dema_events,
            "ts_tema_events": sca.ts_tema_events,
            "ts_kaufmans_er_events": sca.ts_kaufmans_er_events,
            "ts_kama_events": sca.ts_kama_events,
            "ts_trix_events": sca.ts_trix_events,
            "ts_covariance_click_view": sca.ts_covariance_click_view,
            "corpus_token_budget_select": sca.corpus_token_budget_select,
            "dedup_editdistance_docs": sca.dedup_editdistance_docs,
            "profile_columns_lineitem": sca.profile_columns_lineitem,
            "profile_columns_exact": sca.profile_columns_exact,
            "text_clean_boilerplate_docs": sca.text_clean_boilerplate_docs,
            "corpus_url_dedup": sca.corpus_url_dedup,
            "text_lang_confidence_cutoff": sca.text_lang_confidence_cutoff,
            "corpus_mix_rate_sample": sca.corpus_mix_rate_sample,
            "dedup_incremental_batch": sca.dedup_incremental_batch,
            "dedup_leakage_matrix": sca.dedup_leakage_matrix,
            "corpus_quality_histogram": sca.corpus_quality_histogram,
            "text_winnow_fingerprints": sca.text_winnow_fingerprints,
            "text_vocab_encode_docs": sca.text_vocab_encode_docs,
            "sketch_bloom_user_filter": sca.sketch_bloom_user_filter,
            "ts_autocorrelation_events": sca.ts_autocorrelation_events,
            "corpus_drift_chisquare": sca.corpus_drift_chisquare,
            "events_transition_matrix": sca.events_transition_matrix,
            "join_bloom_prefilter_lineitem": sca.join_bloom_prefilter_lineitem,
            "funnel_windowed_events": sca.funnel_windowed_events,
            "events_rfm_segments": sca.events_rfm_segments,
            "ts_rolling_median_events": sca.ts_rolling_median_events,
            "layout_zorder_events": sca.layout_zorder_events,
            "ab_welch_value_click_view": sca.ab_welch_value_click_view,
            "dedup_containment_docs": sca.dedup_containment_docs,
            "sketch_quantiles_events": sca.sketch_quantiles_events,
            "dedup_keep_best_quality": sca.dedup_keep_best_quality,
            "dedup_scrub_benchmark_spans": sca.dedup_scrub_benchmark_spans,
            "ts_seasonal_decompose_events": sca.ts_seasonal_decompose_events,
        }
    )
    # The driver's correctness harness walks this registry in order with
    # a ~50-entry budget per round. Order the registry so that budget
    # always lands on the queries that still need a (fresh) driver
    # record — computed from the committed CORRECTNESS_r*.json records
    # themselves, replacing the hand-maintained head list that rounds
    # 3-4 had to re-point every round.
    return _registry_order(out)


# Queries whose implementation or oracle changed AFTER their last
# committed green row, mapped to the round the change shipped in: a
# green record for the OLD shape must not count as settled, so they
# re-check right after standing reds in _registry_order. SELF-
# RETIRING: once a green row exists from a round >= the change round,
# the entry is ignored (no human edit needed — the r3/r4 lesson that
# hand-repointed head lists go stale). Module-level so tools
# (tools/bench_compare.py) can exclude changed queries from ambient-
# drift estimates.
CHANGED_IN_ROUND = {
    # r5: schema changed (new columns) — old green rows are stale
    "profile_columns_lineitem": 5,
    # (dedup_editdistance_docs r5 NULL-safe-oracle pin superseded by
    # the r10 pin below — one key, latest round)
    # r5: ANN query batch changed from emb.limit(10) to the
    # deterministic vec_id < 10 — records predating r5 describe a
    # possibly-different row set (ADVICE r5); the r5 driver rows
    # themselves ran at post-change HEAD and satisfy the pin
    # r9: the Lloyd member means switched from flat id-ordered
    # folds (full per-cell member lists — the r8 skew hazard) to
    # bounded hierarchical 256-id-block folds, on BOTH engines:
    # different float association, different (still matching)
    # hashes — r8 green rows describe the old bits
    # (similarity_ann_pq / similarity_ann_ivfpq r9 pins superseded
    # by the r11 pins below — one key, latest round; similarity_ann_ivf
    # r9 pin superseded by the r11 pin below)
    # r6: similarity_ann_lsh gained a DuckDB oracle (deterministic
    # md5 hyperplanes); embedding_pca_project's declared output
    # reshaped to scalar pc0..pc7 columns after its array column
    # crashed the driver canonicalizer in r5
    "similarity_ann_lsh": 6,
    # r8: embedding_pca_project flipped rows-only -> oracle-backed
    # (pinned-fold moments + md5-seeded power-iteration eigensolve,
    # replayed in SQL as a recursive CTE)
    # (embedding_pca_project r8 pin superseded by the r11 pin below)
    # r7: NULL-basket/item filter added to operator AND oracle
    # (same results on lineitem, where keys are non-null) plus the
    # apriori min_item_support prefilter (output-invariant by
    # construction); BPE encode gained the vocab-frame lineage
    # barrier (plan-only change, output identical)
    # (basket_affinity_parts r7 pin superseded by the r10 pin below)
    "text_bpe_encode_docs": 7,
    # r7: lineage barriers on the kept frames (plan-only, output
    # identical — verified sf0.001 + vanilla sf0.01); supersedes
    # the r5 schema-change pin (one key, latest round)
    # (pipeline_corpus_build superseded again by the r10 pin below)
    # r10 plan-only rewrites, output identical (full sf0.001 sweep
    # + per-query sf0.01 oracle checks green at the change HEAD):
    # shingles/grams built AFTER the explode so the concat+hash
    # runs in whole-stage codegen instead of interpreted HOF
    # lambdas (every shingle consumer), the winnowing selection as
    # a sliding-window struct-min, the connected-components star
    # round as a window instead of groupBy+join, basket pair
    # fan-out as two Generates, and trainer/delivery job-count
    # cuts (lazy checkpoints, seed-row dims) in the deterministic
    # PQ paths
    "dedup_ngram_jaccard_docs": 10,
    "dedup_minhash_lsh_docs": 10,
    "dedup_containment_docs": 10,
    "dedup_ngram_span_coverage": 10,
    "dedup_benchmark_contamination": 10,
    "dedup_scrub_duplicate_spans": 10,
    "dedup_scrub_benchmark_spans": 10,
    "dedup_incremental_batch": 10,
    "dedup_leakage_matrix": 10,
    "text_repetition_signals_docs": 10,
    "pipeline_corpus_build": 10,
    "dedup_cluster_assignments": 10,
    "dedup_keep_best_quality": 10,
    "embedding_semantic_dedup": 10,
    "text_winnow_fingerprints": 10,
    "text_trigram_lm_quality": 10,
    "dedup_editdistance_docs": 10,
    "basket_affinity_parts": 10,
    # r11: the pinned hierarchical mean fold gained a THIRD level
    # (block partials fold within b DIV 256 superblocks before the
    # top fold) on BOTH engines — closes the O(N/block) hot-key
    # struct pile-up, the last named 100x-scale skew hazard. At
    # registry id ranges (vid < 65536: one superblock, and
    # 0.0 + x == x bit-exact) the outputs are bit-identical — verified
    # by a bitwise sf0.01 cross-engine sweep — but the association
    # CONTRACT changed, so the stale green rows re-verify.
    "similarity_ann_ivf": 11,
    "similarity_ann_pq": 11,
    "similarity_ann_ivfpq": 11,
    "embedding_pca_project": 11,
    # r12: the EMA-family recursions were rewritten as segmented
    # affine prefix scans (operators/affine_scan.py — within-series
    # parallel, JVM-side; VERDICT r11 task #1). Float association is
    # pinned to the hierarchical fold order and the oracles replay it
    # (queries/affine_scan_sql.py), so outputs carry different (still
    # bitwise cross-engine-verified at sf0.001 AND sf0.01) bits than
    # the retired sequential forms; the towers additionally collapsed
    # to single d=2/d=3 vector scans with closed-form constants.
    "ts_ema_events": 12,
    "ts_dema_events": 12,
    "ts_tema_events": 12,
    "ts_trix_events": 12,
    "ts_holt_smoothing_events": 12,
    "ts_kama_events": 12,
    }


def _registry_order(
    out: dict, records: dict[int, dict] | None = None
) -> dict:
    """Order queries for the driver's fixed correctness budget.

    Priority classes (stable original order within each):
      0. latest committed record is RED — a standing red row reads as
         a live failure and must never be starved out of the budget by
         new additions (the flux_agg_integral case from r2/r3);
      1. green record exists but the query's implementation or oracle
         changed in a later round (``changed_in_round``) — the stale
         green must re-verify the new shape; the pin self-retires
         once a green row from >= the change round lands;
      2. oracle-backed with no green row in ANY round's record — the
         hard hash-compare signal;
      3. rows-only, never checked — the weaker rows+schema signal;
      4. green and current — the long-proven tail.

    ``records`` maps round -> {query: row-dict} for tests; by default
    the committed CORRECTNESS_r*.json files next to this module are
    loaded. A malformed or missing record file degrades to "never
    checked" rather than crashing the driver import.
    """
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    if records is None:
        records = {}
        here = _os.path.dirname(_os.path.abspath(__file__))
        for path in sorted(_glob.glob(_os.path.join(here, "CORRECTNESS_r*.json"))):
            m = _re.search(r"_r(\d+)", _os.path.basename(path))
            if not m:
                continue
            try:
                with open(path) as fh:
                    rec = _json.load(fh)
            except (OSError, ValueError):
                continue
            if isinstance(rec, dict):
                records[int(m.group(1))] = rec

    def _is_green(row) -> bool:
        return (
            isinstance(row, dict)
            and bool(row.get("rows_match"))
            and bool(row.get("schema_match"))
            and row.get("hash_match") is not False
            and row.get("err") in (None, "")
        )

    # one pass: each query's latest (round, green) and latest row, and
    # the latest round it was green in (present iff ever green)
    latest: dict[str, tuple[int, bool]] = {}
    latest_row: dict[str, dict] = {}
    latest_green_round: dict[str, int] = {}
    for rnd in sorted(records):
        for name, row in records[rnd].items():
            ok = _is_green(row)
            latest[name] = (rnd, ok)
            latest_row[name] = row if isinstance(row, dict) else {}
            if ok:
                latest_green_round[name] = rnd

    oracle_backed = set(oracle_sql())
    changed_in_round = CHANGED_IN_ROUND

    def _stale_green(name: str) -> bool:
        rnd = changed_in_round.get(name)
        if rnd is None or name not in latest_green_round:
            return False
        return latest_green_round[name] < rnd

    def _settled_rows_only(name: str) -> bool:
        # A rows-only-BY-DESIGN query (absent from oracle_sql()) whose
        # latest record is the driver's expected "no_oracle" row with a
        # recorded row count is SETTLED, not red: it can never produce
        # a hash-green row, so classifying it red would park it at the
        # head of the budget forever, displacing real checks every
        # round (the r5 lesson — 5 permanently-red head entries). If
        # the query later GAINS an oracle it leaves this class and the
        # standing no_oracle record correctly reads as "re-check".
        if name in oracle_backed:
            return False
        row = latest_row.get(name, {})
        if not (
            row.get("err") == "no_oracle"
            and row.get("spark_rows") is not None
        ):
            return False
        # the record must postdate any declared implementation change:
        # a rows-only row taken against the OLD shape must re-verify
        rnd = changed_in_round.get(name)
        return rnd is None or latest[name][0] >= rnd

    def _prio(name: str) -> int:
        # 0: latest committed record is RED (regardless of history) —
        #    a standing red row on since-fixed code reads as a live
        #    failure in the record, and with a registry larger than the
        #    driver's ~50-row budget these re-checks must never be
        #    starved by a stream of new additions (the flux_agg_integral
        #    lesson: its r2 red sat outside the checked window for two
        #    rounds under never-checked-first ordering). EXCEPTION:
        #    rows-only-by-design queries whose latest record is the
        #    expected no_oracle row are settled (see _settled_rows_only)
        # 1: green record exists but the query changed since (stale
        #    green must re-verify the NEW shape before settling;
        #    self-retires once a green row from the change round lands)
        # 2: oracle-backed, never checked — the hard hash-compare signal
        # 3: rows-only, never checked — weak rows+schema signal
        # 4: green and current / settled rows-only
        if name in latest and not latest[name][1]:
            return 4 if _settled_rows_only(name) else 0
        if _stale_green(name):
            return 1
        if name not in latest_green_round:
            return 2 if name in oracle_backed else 3
        return 4

    names = list(out)
    pos = {n: i for i, n in enumerate(names)}
    names.sort(key=lambda n: (_prio(n), pos[n]))
    return {n: out[n] for n in names}


_AGG_ORACLE = {
    "mean": "avg(value)",
    "min": "min(value)",
    "max": "max(value)",
    "sum": "sum(value)",
    "count": "count(value)",
    "first": "arg_min(value, ts)",
    "last": "arg_max(value, ts)",
    "median": "median(value)",
    "stddev": "stddev_samp(value)",
    "spread": "max(value) - min(value)",
}

_RANGE = "ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'"

# mode/skew/kurtosis (r11 Flux-stdlib tail) need more than the one-
# expression template: mode's tie rule is (count desc, value asc) —
# a QUALIFY row_number over that ordering; skew/kurtosis derive from
# exact HUGEINT power sums (mirroring Spark's decimal sums bit-for-bit)
# with the float formula mirrored verbatim.
MODE_AGG_SQL = """
    WITH c AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, value, count(*) AS cnt
        FROM events WHERE {range}
        GROUP BY 1, 2, 3
    )
    SELECT ts, event_type, value
    FROM c
    QUALIFY row_number() OVER (
        PARTITION BY ts, event_type ORDER BY cnt DESC, value ASC) = 1
"""

_MOMENT_PRELUDE = """
    WITH x AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type,
               CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS HUGEINT) AS xi
        FROM events WHERE {range}
    ), s AS (
        SELECT ts, event_type,
               CAST(count(xi) AS DOUBLE) AS n,
               CAST(sum(xi) AS DOUBLE) AS s1,
               CAST(sum(xi * xi) AS DOUBLE) AS s2,
               CAST(sum(xi * xi * xi) AS DOUBLE) AS s3,
               CAST(sum(xi * xi * xi * xi) AS DOUBLE) AS s4
        FROM x GROUP BY 1, 2
    )
"""

SKEW_AGG_SQL = _MOMENT_PRELUDE + """
    SELECT ts, event_type,
           CASE WHEN (s2 / n - (s1 / n) * (s1 / n)) > 0
                THEN (s3 / n - 3.0 * (s1 / n) * (s2 / n)
                      + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
                     / ((s2 / n - (s1 / n) * (s1 / n))
                        * sqrt(s2 / n - (s1 / n) * (s1 / n)))
           END AS value
    FROM s
"""

KURTOSIS_AGG_SQL = _MOMENT_PRELUDE + """
    SELECT ts, event_type,
           CASE WHEN (s2 / n - (s1 / n) * (s1 / n)) > 0
                THEN (s4 / n - 4.0 * (s1 / n) * (s3 / n)
                      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                     / ((s2 / n - (s1 / n) * (s1 / n))
                        * (s2 / n - (s1 / n) * (s1 / n)))
                     - 3.0
           END AS value
    FROM s
"""


def oracle_sql() -> dict[str, str]:
    out = {
        "flux_range_filter": f"""
            SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE {_RANGE} AND (event_type = 'click' OR event_type = 'view')
        """,
        "flux_filter_bands": """
            SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-05'
              AND event_type = 'purchase' AND value > 50.0
        """,
        "flux_pipeline_full": f"""
            SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
                   event_type, avg(value) AS value
            FROM events
            WHERE {_RANGE}
              AND event_type IN ('click', 'view', 'purchase')
            GROUP BY 1, 2
        """,
        "asof_latest": """
            SELECT user_id, max(ts) AS ts,
                   arg_max(event_type, ts) AS event_type,
                   arg_max(value, ts) AS value
            FROM events GROUP BY user_id
        """,
        "status_gate": """
            WITH status AS (
                SELECT user_id, ts,
                       CASE WHEN event_type = 'signup' THEN 'online'
                            ELSE 'offline' END AS status
                FROM events WHERE event_type IN ('signup', 'error')
            ), latest AS (
                SELECT user_id, arg_max(status, ts) AS status
                FROM status GROUP BY user_id
            )
            SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
            FROM events e
            JOIN latest l ON e.user_id = l.user_id AND l.status = 'online'
            WHERE e.event_type IN ('click', 'view', 'purchase')
        """,
        "unpivot_events": """
            SELECT event_id, ts, 'value' AS field, value FROM events
            UNION ALL
            SELECT event_id, ts, 'user_id' AS field,
                   CAST(user_id AS DOUBLE) AS value FROM events
        """,
        "pivot_event_types": """
            SELECT user_id,
                   avg(value) FILTER (WHERE event_type = 'click') AS click,
                   avg(value) FILTER (WHERE event_type = 'error') AS error,
                   avg(value) FILTER (WHERE event_type = 'purchase') AS purchase,
                   avg(value) FILTER (WHERE event_type = 'signup') AS signup,
                   avg(value) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY user_id
        """,
        "json_props_extract": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CAST(value AS DOUBLE) AS value
            FROM events
        """,
        "json_variant_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CAST(value AS DOUBLE) AS value
            FROM events
        """,
    }
    out["packet_decode_points"] = _packet_decode_oracle()
    out["flux_regex_filter"] = REGEX_FILTER_SQL
    for fn, expr in _AGG_ORACLE.items():
        out[f"flux_agg_{fn}"] = f"""
            SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
                   event_type, {expr} AS value
            FROM events WHERE {_RANGE}
            GROUP BY 1, 2
        """
    out["flux_agg_mode"] = MODE_AGG_SQL.format(range=_RANGE)
    out["flux_agg_skew"] = SKEW_AGG_SQL.format(range=_RANGE)
    out["flux_agg_kurtosis"] = KURTOSIS_AGG_SQL.format(range=_RANGE)
    out.update(
        {
            "tpch_q1_pricing_summary": rel.TPCH_Q1_SQL,
            "tpch_q3_shipping_priority": rel.TPCH_Q3_SQL,
            "tpch_q5_nation_revenue": rel.TPCH_Q5_SQL,
            "join_part_brand_volume": rel.JOIN_PART_BRAND_SQL,
            "topk_orders_per_customer": rel.TOPK_ORDERS_SQL,
            "distinct_users_per_type": rel.DISTINCT_USERS_SQL,
            "set_purchase_days_without_errors": rel.SET_EXCEPT_SQL,
            "rollup_event_counts": rel.ROLLUP_SQL,
            "sessionize_events": rel.SESSIONIZE_SQL,
            "asof_purchase_attribution": rel.ASOF_ATTRIBUTION_SQL,
            "tpch_q6_forecast_revenue": rel.TPCH_Q6_SQL,
            "tpch_q4_order_priority": rel.TPCH_Q4_SQL,
            "tpch_q10_returned_items": rel.TPCH_Q10_SQL,
            "tpch_q18_large_orders": rel.TPCH_Q18_SQL,
            "tpch_q17_small_qty_revenue": rel.TPCH_Q17_SQL,
            "anti_join_never_ordered_parts": rel.ANTI_JOIN_SQL,
            "window_running_totals": rel.WINDOW_RUNNING_SQL,
            "window_moving_avg": rel.WINDOW_MOVING_AVG_SQL,
            "flux_agg_sliding": SLIDING_AGG_SQL.format(range=_RANGE),
            "flux_agg_create_empty": CREATE_EMPTY_SQL.format(range=_RANGE),
            "flux_agg_integral": INTEGRAL_SQL.format(range=_RANGE),
            "flux_text_pipeline": FLUX_TEXT_SQL.format(range=_RANGE),
            "flux_text_transforms": FLUX_TEXT_TRANSFORMS_SQL.format(
                range=_RANGE
            ),
            "flux_text_rsi": FLUX_TEXT_RSI_SQL.format(range=_RANGE),
            "flux_text_hour_selection":
                FLUX_TEXT_HOUR_SELECTION_SQL.format(range=_RANGE),
            "flux_text_highest_max":
                FLUX_TEXT_HIGHEST_MAX_SQL.format(range=_RANGE),
            "flux_text_lowest_average":
                FLUX_TEXT_LOWEST_AVERAGE_SQL.format(range=_RANGE),
            "flux_text_twa": FLUX_TEXT_TWA_SQL.format(range=_RANGE),
            "flux_text_map_cond": FLUX_TEXT_MAP_COND_SQL.format(
                range=_RANGE
            ),
            "flux_text_reduce": FLUX_TEXT_REDUCE_SQL.format(
                range=_RANGE
            ),
            "flux_text_to_float":
                FLUX_TEXT_TO_FLOAT_SQL.format(range=_RANGE),
            "flux_text_top": FLUX_TEXT_TOP_SQL.format(range=_RANGE),
            "flux_text_unique": FLUX_TEXT_UNIQUE_SQL.format(range=_RANGE),
            "flux_text_pivot": FLUX_TEXT_PIVOT_SQL.format(range=_RANGE),
            "flux_text_bare_agg": FLUX_TEXT_BARE_AGG_SQL.format(range=_RANGE),
            "flux_text_group_max": FLUX_TEXT_GROUP_MAX_SQL.format(range=_RANGE),
            "flux_text_group_keys": FLUX_TEXT_GROUP_KEYS_SQL.format(range=_RANGE),
            "flux_text_map": FLUX_TEXT_MAP_SQL.format(range=_RANGE),
            "flux_text_histogram": FLUX_TEXT_HISTOGRAM_SQL.format(range=_RANGE),
            "flux_text_hist_quantile":
                FLUX_TEXT_HIST_QUANTILE_SQL.format(range=_RANGE),
            "flux_text_quantile": FLUX_TEXT_QUANTILE_SQL.format(range=_RANGE),
            "flux_text_window_agg": FLUX_TEXT_WINDOW_AGG_SQL.format(range=_RANGE),
            "flux_text_dup_limit": FLUX_TEXT_DUP_LIMIT_SQL.format(range=_RANGE),
            "flux_script_join": FLUX_SCRIPT_JOIN_SQL.format(range=_RANGE),
            "flux_script_union": FLUX_SCRIPT_UNION_SQL.format(range=_RANGE),
            "flux_text_tail_sample": FLUX_TEXT_TAIL_SAMPLE_SQL.format(range=_RANGE),
            "flux_script_join_left": FLUX_SCRIPT_JOIN_LEFT_SQL.format(range=_RANGE),
            "flux_agg_offset": OFFSET_AGG_SQL.format(range=_RANGE),
            "tpch_q7_bination_volume": rel.TPCH_Q7_SQL,
            "tpch_q9_product_profit": rel.TPCH_Q9_SQL,
            "tpch_q19_discounted_revenue": rel.TPCH_Q19_SQL,
            "cube_returnflag_status": rel.CUBE_SQL,
            "tpch_q8_market_share": rel.TPCH_Q8_SQL,
            "tpch_q12_late_priority": rel.TPCH_Q12_SQL,
            "tpch_q13_order_distribution": rel.TPCH_Q13_SQL,
            "tpch_q14_promo_share": rel.TPCH_Q14_SQL,
            "tpch_q15_top_supplier": rel.TPCH_Q15_SQL,
            "tpch_q16_supplier_counts": rel.TPCH_Q16_SQL,
            "tpch_q22_dormant_customers": rel.TPCH_Q22_SQL,
            "tpch_q2_min_cost_supplier": rel.TPCH_Q2_SQL,
            "tpch_q11_important_stock": rel.TPCH_Q11_SQL,
            "tpch_q20_part_promotion": rel.TPCH_Q20_SQL,
            "tpch_q21_waiting_suppliers": rel.TPCH_Q21_SQL,
            "funnel_conversion_events": rel.FUNNEL_SQL,
            "retention_cohorts_events": rel.RETENTION_SQL,
            "interval_click_attribution": rel.INTERVAL_ATTRIBUTION_SQL,
        }
    )
    out.update(
        {
            "dedup_exact_docs": sca.DEDUP_EXACT_SQL,
            "dedup_ngram_jaccard_docs": sca.NGRAM_JACCARD_SQL,
            # exact-jaccard oracle is valid for the LSH query: candidates
            # are exact-verified (no FPs) and the collision curve is ~1.0
            # at the corpus's observed similarity gap (no FNs)
            "dedup_minhash_lsh_docs": sca.NGRAM_JACCARD_SQL,
            "dedup_simhash_docs": simhash_oracle_sql(),
            "text_fingerprint_docs": sca.FINGERPRINT_SQL,
            "text_token_stats_docs": sca.TOKEN_STATS_SQL,
            "text_quality_score_docs": sca.QUALITY_SCORE_SQL,
            "text_lang_id_docs": lang_id_oracle_sql(),
            "similarity_cosine_topk": sca.COSINE_TOPK_SQL,
            "similarity_ann_lsh": sca.ANN_LSH_SQL,
            "similarity_ann_ivf": sca.ANN_IVF_SQL,
            "similarity_ann_pq": sca.ANN_PQ_SQL,
            "similarity_ann_ivfpq": sca.ANN_IVFPQ_SQL,
            "ann_maintained_build": sca.ANN_MAINTAINED_BUILD_SQL,
            "ann_maintained_search": sca.ANN_MAINTAINED_SQL,
            "embedding_pca_project": sca.PCA_PROJECT_SQL,
            "embedding_jl_project": sca.JL_PROJECT_SQL,
            "text_length_bucketed_batches": sca.LENGTH_BUCKETED_SQL,
            "corpus_content_fingerprints": sca.CORPUS_FINGERPRINTS_SQL,
            "join_salted_brand_volume": sca.JOIN_SALTED_BRAND_SQL,
            "agg_two_phase_event_value": sca.AGG_TWO_PHASE_SQL,
            "quality_expectation_suite": sca.EXPECTATION_SUITE_SQL,
            "text_trigram_lm_quality": sca.TRIGRAM_LM_SQL,
            "er_fuzzy_match_parts": sca.ER_FUZZY_MATCH_SQL,
            "contrastive_hard_negatives": sca.HARD_NEGATIVES_SQL,
            "embedding_neardup_pairs": sca.NEARDUP_PAIRS_SQL,
            # similarity_ann_* stay rows-only (plane/codebook literals
            # live Spark-side); the stub-codec multimodal queries are
            # oracle-backed below (MULTIMODAL_FEATURES_SQL etc.)
            "multimodal_blob_meta": sca.BLOB_META_SQL,
            "text_tfidf_top_terms": sca.TFIDF_SQL,
            "value_percentiles": sca.PERCENTILES_SQL,
            "ts_difference_events": sca.TS_DIFFERENCE_SQL,
            "ts_derivative_events": sca.TS_DERIVATIVE_SQL,
            "ts_cumulative_sum_events": sca.TS_CUMSUM_SQL,
            "ts_forward_fill_events": sca.TS_FILL_SQL,
            "ts_increase_events": sca.TS_INCREASE_SQL,
            "text_bpe_token_count": sca.BPE_TOKEN_SQL,
            "value_histogram": sca.VALUE_HISTOGRAM_SQL,
            "dedup_cluster_assignments": sca.CLUSTER_SQL,
            "sample_hash_fraction": sca.SAMPLE_FRACTION_SQL,
            "sample_split_counts": sca.SPLIT_COUNTS_SQL,
            "sample_stratified_docs": sca.SAMPLE_STRATIFIED_SQL,
            "text_chunk_docs": sca.CHUNK_SQL,
            "ts_elapsed_events": sca.ELAPSED_SQL,
            "ts_moving_average_events": sca.MOVING_AVERAGE_SQL,
            "text_bm25_topk_docs": sca.BM25_SQL,
            "ts_ema_events": sca.EMA_SQL,
            "ts_state_count_events": sca.STATE_COUNT_SQL,
            "sketch_heavy_hitters": sca.HEAVY_HITTERS_SQL,
            "sketch_distinct_users_daily": sca.SKETCH_DISTINCT_SQL,
            "ts_state_duration_events": sca.STATE_DURATION_SQL,
            "ts_state_changes_events": sca.STATE_CHANGES_SQL,
            "ts_event_duration_events": sca.EVENT_DURATION_SQL,
            "dedup_ngram_span_coverage": sca.NGRAM_SPAN_SQL,
            "text_unigram_rarity_docs": sca.UNIGRAM_RARITY_SQL,
            "ts_derivative_nonneg_events": sca.TS_DERIVATIVE_NONNEG_SQL,
            "text_repetition_signals_docs": sca.REPETITION_SIGNALS_SQL,
            "embedding_label_centroids": sca.LABEL_CENTROIDS_SQL,
            "dedup_benchmark_contamination": sca.BENCHMARK_CONTAMINATION_SQL,
            "corpus_stats_by_source": sca.CORPUS_STATS_SQL,
            "text_word_freq_spectrum": sca.WORD_FREQ_SQL,
            "text_pack_sequences_docs": sca.PACK_SEQUENCES_SQL,
            "text_pii_scrub_docs": sca.PII_SCRUB_SQL,
            "corpus_mix_weights": sca.MIX_WEIGHTS_SQL,
            "text_training_order": sca.TRAINING_ORDER_SQL,
            "corpus_length_quantiles": sca.LENGTH_QUANTILES_SQL,
            "text_bpe_merge_candidates": sca.BPE_MERGE_SQL,
            "text_bpe_encode_docs": sca.BPE_ENCODE_SQL,
            "basket_affinity_parts": sca.BASKET_AFFINITY_SQL,
            "multimodal_decode_ppm": sca.DECODE_PPM_SQL,
            "multimodal_decode_features": sca.MULTIMODAL_FEATURES_SQL,
            "multimodal_frame_sample": sca.FRAME_SAMPLE_SQL,
            "ts_anomaly_zscore_events": sca.ANOMALY_ZSCORE_SQL,
            "ts_interpolate_linear_events": sca.INTERPOLATE_SQL,
            "flux_correlation_click_view": sca.CORRELATION_SQL,
            "ts_anomaly_mad_events": sca.ANOMALY_MAD_SQL,
            "embedding_quantize_int8": sca.QUANTIZE_INT8_SQL,
            "embedding_cluster_balance": sca.CLUSTER_BALANCE_SQL,
            "text_dsir_weights": sca.DSIR_WEIGHTS_SQL,
            "pipeline_corpus_build": sca.PIPELINE_CORPUS_BUILD_SQL,
            "text_classifier_score_docs": sca.CLASSIFIER_SCORE_SQL,
            "ts_cusum_events": sca.CUSUM_SQL,
            "ts_holt_smoothing_events": sca.HOLT_SMOOTHING_SQL,
            "ts_holtwinters_events": sca.HOLT_WINTERS_SQL,
            "dedup_scrub_duplicate_spans": sca.SCRUB_SPANS_SQL,
            "ts_rsi_events": sca.RSI_SQL,
            "ts_cmo_events": sca.CMO_SQL,
            "ts_dema_events": sca.DEMA_SQL,
            "ts_tema_events": sca.TEMA_SQL,
            "ts_kaufmans_er_events": sca.KAUFMANS_ER_SQL,
            "ts_kama_events": sca.KAMA_SQL,
            "ts_trix_events": sca.TRIX_SQL,
            "ts_covariance_click_view": sca.COVARIANCE_SQL,
            "corpus_token_budget_select": sca.TOKEN_BUDGET_SQL,
            "dedup_editdistance_docs": sca.DEDUP_EDITDISTANCE_SQL,
            "profile_columns_lineitem": sca.PROFILE_COLUMNS_SQL,
            "profile_columns_exact": sca.PROFILE_COLUMNS_EXACT_SQL,
            "text_clean_boilerplate_docs": sca.CLEAN_BOILERPLATE_SQL,
            "corpus_url_dedup": sca.CORPUS_URL_DEDUP_SQL,
            "text_lang_confidence_cutoff": sca.LANG_CONFIDENCE_SQL,
            "corpus_mix_rate_sample": sca.STRATIFIED_RATE_SAMPLE_SQL,
            "dedup_incremental_batch": sca.DEDUP_INCREMENTAL_SQL,
            "dedup_leakage_matrix": sca.DEDUP_LEAKAGE_SQL,
            "corpus_quality_histogram": sca.QUALITY_HISTOGRAM_SQL,
            "text_winnow_fingerprints": sca.WINNOW_SQL,
            "text_vocab_encode_docs": sca.VOCAB_ENCODE_SQL,
            "sketch_bloom_user_filter": sca.BLOOM_FILTER_SQL,
            "ts_autocorrelation_events": sca.ACF_SQL,
            "corpus_drift_chisquare": sca.CORPUS_DRIFT_SQL,
            "events_transition_matrix": sca.TRANSITION_MATRIX_SQL,
            "join_bloom_prefilter_lineitem": sca.JOIN_BLOOM_PREFILTER_SQL,
            "funnel_windowed_events": sca.FUNNEL_WINDOWED_SQL,
            "events_rfm_segments": sca.RFM_SEGMENTS_SQL,
            "ts_rolling_median_events": sca.ROLLING_MEDIAN_SQL,
            "layout_zorder_events": sca.ZORDER_SQL,
            "ab_welch_value_click_view": sca.AB_WELCH_SQL,
            "dedup_containment_docs": sca.DEDUP_CONTAINMENT_SQL,
            "sketch_quantiles_events": sca.SKETCH_QUANTILES_SQL,
            "dedup_keep_best_quality": sca.DEDUP_KEEP_BEST_SQL,
            "dedup_scrub_benchmark_spans": sca.SCRUB_BENCH_SQL,
            "ts_seasonal_decompose_events": sca.SEASONAL_DECOMPOSE_SQL,
            "embedding_semantic_dedup": sca.SEMANTIC_DEDUP_SQL.format(
                neardup=sca.NEARDUP_PAIRS_SQL
            ),
        }
    )
    return out
