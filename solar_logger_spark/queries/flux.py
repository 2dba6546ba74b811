"""Flux-surface queries over the ``events`` table, with their DuckDB
oracles: the builder pipeline (range, filter bands, aggregateWindow,
sort), Flux text and multi-pipeline scripts parsed by
``query/flux_parser.py``, plus the status-gate, reshaping, JSON and
packet-decode queries.

The module ends with ``QUERIES``, one ``(name, builder, oracle_sql)`` row
per query. A builder is ``(spark, sf_dir) -> DataFrame``; the oracle is
the DuckDB SQL it must hash-match. Column names are aliased identically
on both sides.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from solar_logger_spark.io.tables import load_table, table_path
from solar_logger_spark.operators.asof import latest_per_key, status_gate
from solar_logger_spark.operators.pivoting import pivot, unpivot
from solar_logger_spark.operators.window_agg import aggregate_window
from solar_logger_spark.query.builder import QueryBuilder
from solar_logger_spark.query.flux_parser import parse_flux, parse_flux_script
from solar_logger_spark.streaming.decode import (
    MEASUREMENT_FIELDS, decode_packets, synthetic_packet_udf,
)

# events spans 2024-01-01 .. 2024-01-30 (TESTDATA.md; generated seed=42)
T0 = datetime(2024, 1, 5)
T1 = datetime(2024, 1, 25)

_RANGE = "ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _events_qb(spark: SparkSession, sf_dir: str) -> QueryBuilder:
    """A builder over the events table's path: its statement starts at
    the scan, and the builder's own static ``range()`` is pushed there
    as a raw-int64 predicate (io.tables.scan_sql)."""
    return QueryBuilder(
        table_path(sf_dir, "events"),
        spark=spark,
        ts_col="ts",
        value_col="value",
        series_cols=("event_type",),
    )


def _flux_text_events(text: str, *keep: str):
    """Builder for one Flux text over ``events``; each pipeline's own
    static range reaches the scan. A pipeline (``from(...) |> ...``)
    binds to the events table; a script (``name = from(...)``
    assignments ending in ``join()``/``union()``) reads each
    ``from(bucket:)`` as a table. ``_measurement`` names the event_type
    column; ``keep`` projects the result."""
    kw = {
        "field_map": {"_measurement": "event_type"},
        "ts_col": "ts",
        "value_col": "value",
        "series_cols": ("event_type",),
    }

    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        def path(table: str) -> str:
            return table_path(sf_dir, table)

        if text.startswith("from("):
            df = parse_flux(text).to_builder(path("events"), spark=spark, **kw).to_df()
        else:
            df = parse_flux_script(text).to_df(path, spark=spark, **kw)
        return df.select(*keep) if keep else df

    return _q


# ---------------------------------------------------------------------------
# Flux pipeline surface (SURVEY.md §2: S1, P1-P5, A1/A2, O1)
# ---------------------------------------------------------------------------

def q_flux_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3+P5: range + OR-joined equality filters + projection."""
    return (
        _events_qb(spark, sf_dir)
        .range(T0, T1)
        .filter("event_type", "click", joiner="or")
        .filter("event_type", "view", joiner="or")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .to_df()
    )


def q_flux_filter_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: conjunctive filter bands (chained Flux filter stages)."""
    return (
        _events_qb(spark, sf_dir)
        .range(T0)
        .filter("event_type", "purchase")
        .filter("value", 50.0, op=">", new_band=True)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .to_df()
    )


def _agg_query(fn: str):
    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _events_qb(spark, sf_dir)
            .range(T0, T1)
            .aggregate_window("6h", fn)
            .to_df()
        )
    return _q


def _window_query(**kw):
    """Builder for ``operators.window_agg.aggregate_window`` over the
    [T0, T1) events per event_type; ``kw`` picks the window."""
    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events", ns_range={"ts": (T0, T1)})
        return aggregate_window(
            events.filter((F.col("ts") >= T0) & (F.col("ts") < T1)),
            by=["event_type"],
            **kw,
        )
    return _q


def q_flux_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: range + isin filter + window mean + sort (the
    reference's run_example, src/app/influx_query.py:93-99)."""
    return (
        _events_qb(spark, sf_dir)
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


SLIDING_AGG_SQL = f"""
    SELECT time_bucket(INTERVAL '6 hours', ts) - (k * INTERVAL '6 hours')
           + INTERVAL '1 day' AS ts,
           event_type, avg(value) AS value
    FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS s(k)
    WHERE {_RANGE}
    GROUP BY 1, 2
"""


def q_flux_agg_create_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateWindow with Flux's ``createEmpty`` semantics: hourly
    mean over a sparse series — windows with no input rows are emitted
    with a null value, spine pinned to the builder's range() bounds."""
    return (
        _events_qb(spark, sf_dir)
        .range(T0, T1)
        .filter("event_type", "error")
        .aggregate_window("1h", "mean", create_empty=True)
        .to_df()
    )


CREATE_EMPTY_SQL = f"""
    WITH spine AS (
        SELECT ts_b FROM generate_series(
            TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-24 23:00:00',
            INTERVAL '1 hour') AS t(ts_b)
    ), keys AS (
        SELECT DISTINCT event_type FROM events
        WHERE {_RANGE} AND event_type = 'error'
    ), agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS ts_b, event_type,
               avg(value) AS value
        FROM events
        WHERE {_RANGE} AND event_type = 'error'
        GROUP BY 1, 2
    )
    SELECT spine.ts_b + INTERVAL '1 hour' AS ts, keys.event_type,
           agg.value AS value
    FROM spine CROSS JOIN keys
    LEFT JOIN agg ON agg.ts_b = spine.ts_b AND agg.event_type = keys.event_type
"""


INTEGRAL_SQL = f"""
    WITH seg AS (
        SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS w,
               (value + lag(value) OVER win) / 2
               * (epoch(ts) - lag(epoch(ts)) OVER win) AS area
        FROM events
        WHERE {_RANGE}
        WINDOW win AS (
            PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts)
            ORDER BY ts, value)
    )
    SELECT w + INTERVAL '6 hours' AS ts, event_type,
           coalesce(sum(area), 0.0) AS value
    FROM seg GROUP BY 1, 2
"""


OFFSET_AGG_SQL = f"""
    SELECT time_bucket(INTERVAL '6 hours', ts, INTERVAL '2 hours')
           + INTERVAL '6 hours' AS ts,
           event_type, avg(value) AS value
    FROM events WHERE {_RANGE}
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
# aggregateWindow(every: 6h, fn: ...) oracles
# ---------------------------------------------------------------------------

def _agg_sql(expr: str) -> str:
    return f"""
            SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
                   event_type, {expr} AS value
            FROM events WHERE {_RANGE}
            GROUP BY 1, 2
        """


# mode/skew/kurtosis (r11 Flux-stdlib tail) need more than the one-
# expression template: mode's tie rule is (count desc, value asc) —
# a QUALIFY row_number over that ordering; skew/kurtosis derive from
# exact HUGEINT power sums (mirroring Spark's decimal sums bit-for-bit)
# with the float formula mirrored verbatim.
MODE_AGG_SQL = f"""
    WITH c AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, value, count(*) AS cnt
        FROM events WHERE {_RANGE}
        GROUP BY 1, 2, 3
    )
    SELECT ts, event_type, value
    FROM c
    QUALIFY row_number() OVER (
        PARTITION BY ts, event_type ORDER BY cnt DESC, value ASC) = 1
"""

_MOMENT_PRELUDE = f"""
    WITH x AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type,
               CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS HUGEINT) AS xi
        FROM events WHERE {_RANGE}
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


# ---------------------------------------------------------------------------
# Flux text and script oracles (the texts are in QUERIES below)
# ---------------------------------------------------------------------------

FLUX_TEXT_SQL = f"""
    SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
           event_type, max(value) AS value
    FROM events
    WHERE {_RANGE} AND (event_type = 'click' OR event_type = 'view')
    GROUP BY 1, 2
"""


FLUX_TEXT_RSI_SQL = f"""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, avg(value) AS value
        FROM events
        WHERE {_RANGE} AND event_type = 'click'
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


FLUX_TEXT_HOUR_SELECTION_SQL = f"""
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, count(value) AS value
    FROM events
    WHERE {_RANGE} AND hour(ts) BETWEEN 9 AND 17
          AND (event_type = 'click' OR event_type = 'view')
    GROUP BY 1, 2
"""


FLUX_TEXT_TWA_SQL = f"""
    WITH x AS (
        SELECT event_type, ts, event_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS xi,
               epoch_us(ts) AS eus
        FROM events
        WHERE {_RANGE} AND (event_type = 'click' OR event_type = 'view')
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


FLUX_TEXT_TO_FLOAT_SQL = f"""
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, CAST(count(value) AS DOUBLE) AS value
    FROM events
    WHERE {_RANGE} AND event_type = 'purchase'
    GROUP BY 1, 2
"""


FLUX_TEXT_MAP_COND_SQL = f"""
    SELECT event_id,
           CASE WHEN value >= 50.0 THEN upper(event_type)
                ELSE lower(event_type) END AS band,
           abs(value - 50.0) AS dev
    FROM events
    WHERE {_RANGE}
"""


FLUX_TEXT_REDUCE_SQL = f"""
    SELECT event_type,
           0.0 + CAST(count(*) AS DOUBLE) AS cnt,
           greatest(-1.0, max(value)) AS mx,
           least(99999.0, min(value)) AS mn
    FROM events
    WHERE {_RANGE}
    GROUP BY event_type
"""


FLUX_TEXT_HIGHEST_MAX_SQL = f"""
    WITH m AS (
        SELECT user_id, ts, value FROM events
        WHERE {_RANGE}
        QUALIFY row_number() OVER (
            PARTITION BY user_id
            ORDER BY value DESC, ts, event_id) = 1
    )
    SELECT user_id, ts, value FROM m
    ORDER BY value DESC, user_id LIMIT 10
"""


FLUX_TEXT_LOWEST_AVERAGE_SQL = f"""
    WITH a AS (
        SELECT user_id,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               / count(value) AS value
        FROM events WHERE {_RANGE}
        GROUP BY user_id
    )
    SELECT user_id, value FROM a
    ORDER BY value ASC, user_id LIMIT 10
"""


FLUX_TEXT_TRANSFORMS_SQL = f"""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, avg(value) AS value
        FROM events
        WHERE {_RANGE} AND (event_type = 'click' OR event_type = 'view')
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


FLUX_TEXT_TOP_SQL = f"""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE}
        GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, ts ASC) AS rk
        FROM agg
    )
    SELECT ts, event_type, value FROM ranked WHERE rk <= 3
"""


FLUX_TEXT_UNIQUE_SQL = f"""
    WITH keys AS (
        SELECT DISTINCT event_type FROM events WHERE {_RANGE}
    ), spine AS (
        SELECT unnest(generate_series(
            TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-25' - INTERVAL '6 hours',
            INTERVAL '6 hours')) AS wstart
    ), agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart, event_type,
               count(value) AS value
        FROM events WHERE {_RANGE}
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


FLUX_TEXT_PIVOT_SQL = f"""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE}
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


FLUX_TEXT_BARE_AGG_SQL = f"""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE}
        GROUP BY 1, 2
    )
    SELECT event_type, arg_max(value, ts) AS value FROM agg GROUP BY 1
"""


FLUX_TEXT_GROUP_MAX_SQL = f"""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE}
        GROUP BY 1, 2
    )
    SELECT max(value) AS value FROM agg
"""


FLUX_TEXT_GROUP_KEYS_SQL = f"""
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           user_id, count(value) AS value
    FROM events WHERE {_RANGE}
    GROUP BY 1, 2
"""


FLUX_TEXT_MAP_SQL = f"""
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, (avg(value) * 2.0 + 1.0) / 2 AS value
    FROM events WHERE {_RANGE}
    GROUP BY 1, 2
"""


FLUX_TEXT_HISTOGRAM_SQL = f"""
    SELECT event_type, b.le,
           CAST(count(*) FILTER (WHERE value <= b.le) AS DOUBLE) AS value
    FROM events, (VALUES (25.0), (50.0), (100.0), (250.0)) b(le)
    WHERE {_RANGE}
    GROUP BY 1, 2
"""


FLUX_TEXT_HIST_QUANTILE_SQL = f"""
    WITH h AS (
        SELECT event_type, b.le,
               CAST(count(*) FILTER (WHERE value <= b.le) AS DOUBLE) AS c
        FROM events, (VALUES (25.0), (50.0), (100.0), (250.0)) b(le)
        WHERE {_RANGE}
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


FLUX_TEXT_QUANTILE_SQL = f"""
    SELECT event_type, quantile_cont(value, 0.9) AS value
    FROM events WHERE {_RANGE}
    GROUP BY 1
"""


FLUX_TEXT_WINDOW_AGG_SQL = f"""
    SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS window_start,
           avg(value) AS value
    FROM events WHERE {_RANGE}
    GROUP BY 1, 2
"""


FLUX_TEXT_DUP_LIMIT_SQL = f"""
    SELECT event_id, ts, user_id, event_type, props, value, value AS raw
    FROM events WHERE {_RANGE}
    ORDER BY event_id LIMIT 50 OFFSET 10
"""


FLUX_SCRIPT_JOIN_SQL = f"""
    WITH clicks AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE} AND event_type = 'click'
        GROUP BY 1, 2
    ), purch AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE} AND event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT c.ts,
           c.event_type AS event_type_clicks, c.value AS value_clicks,
           p.event_type AS event_type_purch, p.value AS value_purch
    FROM clicks c JOIN purch p ON c.ts = p.ts
"""


FLUX_TEXT_TAIL_SAMPLE_SQL = f"""
    WITH tailed AS (
        SELECT *, row_number() OVER (
            PARTITION BY event_type
            ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE {_RANGE}
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


FLUX_SCRIPT_JOIN_LEFT_SQL = f"""
    WITH clicks AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE} AND event_type = 'click'
        GROUP BY 1, 2
    ), errs AS (
        SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
               event_type, avg(value) AS value
        FROM events WHERE {_RANGE} AND event_type = 'error'
        GROUP BY 1, 2
    )
    SELECT c.ts,
           c.event_type AS event_type_clicks, c.value AS value_clicks,
           e.event_type AS event_type_errs, e.value AS value_errs
    FROM clicks c LEFT JOIN errs e ON c.ts = e.ts
"""


FLUX_SCRIPT_UNION_SQL = f"""
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, avg(value) AS value
    FROM events WHERE {_RANGE} AND event_type = 'click'
    GROUP BY 1, 2
    UNION ALL
    SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
           event_type, avg(value) AS value
    FROM events WHERE {_RANGE} AND event_type = 'purchase'
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# registry rows: (name, builder, oracle SQL), in registry order
# ---------------------------------------------------------------------------

QUERIES = (
    ("flux_range_filter", q_flux_range_filter, f"""
            SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE {_RANGE} AND (event_type = 'click' OR event_type = 'view')
        """),
    ("flux_filter_bands", q_flux_filter_bands, """
            SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-05'
              AND event_type = 'purchase' AND value > 50.0
        """),
    ("flux_pipeline_full", q_flux_pipeline_full, f"""
            SELECT time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS ts,
                   event_type, avg(value) AS value
            FROM events
            WHERE {_RANGE}
              AND event_type IN ('click', 'view', 'purchase')
            GROUP BY 1, 2
        """),
    ("asof_latest", q_asof_latest, """
            SELECT user_id, max(ts) AS ts,
                   arg_max(event_type, ts) AS event_type,
                   arg_max(value, ts) AS value
            FROM events GROUP BY user_id
        """),
    ("status_gate", q_status_gate, """
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
        """),
    ("unpivot_events", q_unpivot_events, """
            SELECT event_id, ts, 'value' AS field, value FROM events
            UNION ALL
            SELECT event_id, ts, 'user_id' AS field,
                   CAST(user_id AS DOUBLE) AS value FROM events
        """),
    ("pivot_event_types", q_pivot_event_types, """
            SELECT user_id,
                   avg(value) FILTER (WHERE event_type = 'click') AS click,
                   avg(value) FILTER (WHERE event_type = 'error') AS error,
                   avg(value) FILTER (WHERE event_type = 'purchase') AS purchase,
                   avg(value) FILTER (WHERE event_type = 'signup') AS signup,
                   avg(value) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY user_id
        """),
    ("json_props_extract", q_json_props_extract, """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CAST(value AS DOUBLE) AS value
            FROM events
        """),
    ("json_variant_props", q_json_variant_props, """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CAST(value AS DOUBLE) AS value
            FROM events
        """),
    ("packet_decode_points", q_packet_decode_points, _packet_decode_oracle()),
    ("flux_regex_filter", q_flux_regex_filter, REGEX_FILTER_SQL),
    ("flux_agg_create_empty", q_flux_agg_create_empty, CREATE_EMPTY_SQL),
    # aggregateWindow(fn: integral): per-window trapezoidal area under
    # each event-type series (Flux integral(unit: 1s)).
    ("flux_agg_integral", _window_query(every="6h", fn="integral"),
     INTEGRAL_SQL),
    # A query arriving as Flux TEXT — in the reference's own broken
    # output dialect (unclosed aggregateWindow paren, ' Or ' joiner,
    # SURVEY §2.11.1) — parsed by query/flux_parser.py and executed with
    # corrected semantics. This is the switch-over path for a reference
    # user holding query strings.
    ("flux_text_pipeline", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click" Or '
        'r["_measurement"] == "view")'
        "\n\t|> aggregateWindow(every: 6h, fn: max"
    ), FLUX_TEXT_SQL),
    # Flux TEXT with post-aggregate stdlib transform stages
    # (``difference`` then ``cumulativeSum`` then ``stateCount``) — the
    # pipeline shapes a Flux user grows into past the reference's emitted
    # grammar, executed natively (query/builder.py transform stages over
    # operators/timeseries.py).
    ("flux_text_transforms", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click" Or '
        'r["_measurement"] == "view")'
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> difference()"
        "\n\t|> cumulativeSum()"
        "\n\t|> stateCount(fn: (r) => r._value > 0)"
    ), FLUX_TEXT_TRANSFORMS_SQL),
    # Flux TEXT ``relativeStrengthIndex(n:)`` — the momentum stage of
    # the stdlib transform family, reaching the native
    # ``operators.timeseries.rsi`` (already hash-verified standalone as
    # ``ts_rsi_events``) through a parsed pipeline string. Value is
    # replaced in place; warm-up rows and flat windows stay null (the
    # operator's documented divergence from Flux's row drop).
    ("flux_text_rsi", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click")'
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> relativeStrengthIndex(n: 14)"
    ), FLUX_TEXT_RSI_SQL),
    # Flux TEXT ``hourSelection(start:, stop:)`` — business-hours rows
    # only (09:00–17:59, both hours inclusive per Flux), then a daily
    # count per series. Placed BEFORE the aggregate it is a raw-row
    # filter: a native ``hour(ts)`` conjunct that stays inside the
    # scan's codegen stage (query/builder.py hour_selection).
    ("flux_text_hour_selection", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> hourSelection(start: 9, stop: 17)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click"'
        ' or r["_measurement"] == "view")'
        "\n\t|> aggregateWindow(every: 1d, fn: count)"
    ), FLUX_TEXT_HOUR_SELECTION_SQL),
    # Flux TEXT ``highestMax(n:)`` over user-keyed series: the maximum
    # record of each user's table, then the global top 10 of those
    # records by value (operators/timeseries.series_selector). Per-series
    # reduce is one ranked window; the selection is a TakeOrdered over
    # |series| rows — never a full sort.
    ("flux_text_highest_max", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> group(columns: ["user_id"])'
        "\n\t|> highestMax(n: 10)",
        "user_id", "ts", "value",
    ), FLUX_TEXT_HIGHEST_MAX_SQL),
    # Flux TEXT ``lowestAverage(n:)``: each user's table reduced to its
    # mean (exact decimal sum, one float division — mirrored verbatim),
    # then the bottom 10 means. Hash aggregate with map-side combine +
    # TakeOrdered over |series| rows.
    ("flux_text_lowest_average", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> group(columns: ["user_id"])'
        "\n\t|> lowestAverage(n: 10)",
        "user_id", "value",
    ), FLUX_TEXT_LOWEST_AVERAGE_SQL),
    # Flux TEXT ``timeWeightedAvg(unit:)``: whole-table trapezoid mean
    # per series (operators/timeseries.time_weighted_avg). Exact
    # scaled-int64 trapezoid terms over exact µs deltas, one mirrored
    # float quotient at the end; ``unit`` cancels and is ignored.
    ("flux_text_twa", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "click"'
        ' or r["_measurement"] == "view")'
        "\n\t|> timeWeightedAvg(unit: 1s)"
    ), FLUX_TEXT_TWA_SQL),
    # Flux TEXT type conversion: daily counts cast back to float with
    # ``toFloat()`` (int -> double is exact, so the oracle mirror is
    # trivially deterministic; toInt/toString/toBool edge semantics are
    # unit-test-pinned in test_flux_parser).
    ("flux_text_to_float", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> filter(fn: (r) => r["_measurement"] == "purchase")'
        "\n\t|> aggregateWindow(every: 1d, fn: count)"
        "\n\t|> toFloat()"
    ), FLUX_TEXT_TO_FLOAT_SQL),
    # Flux TEXT ``map()`` with the r12 expression-language extension
    # (VERDICT task #4): an ``if/then/else`` conditional choosing
    # between ``strings.toUpper``/``toLower`` calls, plus a ``math.abs``
    # arithmetic rewrite — all compiled to native JVM expressions
    # (query/flux_parser._ast_to_column; never a Python UDF). Every op
    # is IEEE-exact/string-exact, so the oracle mirror hash-matches.
    ("flux_text_map_cond", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> map(fn: (r) => ({ r with band: "
        'if r._value >= 50.0 then strings.toUpper(v: r["_measurement"])'
        ' else strings.toLower(v: r["_measurement"]) }))'
        "\n\t|> map(fn: (r) => ({ r with dev: "
        "math.abs(x: r._value - 50.0) }))"
        '\n\t|> keep(columns: ["event_id", "band", "dev"])'
    ), FLUX_TEXT_MAP_COND_SQL),
    # Flux TEXT ``reduce(fn:, identity:)`` (r12, VERDICT task #4):
    # running count + running max/min accumulators lowered to ONE native
    # hash aggregate per series table (flux_parser._reduce_aggs) — the
    # identity folds in as ``identity + SUM`` / ``greatest(identity,
    # MAX)`` exactly as Flux's fold-from-identity defines. Count/extreme
    # accumulators are order-free exact, so the mirror hash-matches.
    ("flux_text_reduce", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> reduce(fn: (r, accumulator) => ({ "
        "cnt: accumulator.cnt + 1.0, "
        "mx: if r._value > accumulator.mx then r._value"
        " else accumulator.mx, "
        "mn: if r._value < accumulator.mn then r._value"
        " else accumulator.mn }), "
        "identity: {cnt: 0.0, mx: -1.0, mn: 99999.0})"
    ), FLUX_TEXT_REDUCE_SQL),
    # Flux ``top(n:)`` via text: the 3 highest daily-mean values per
    # series — one ranked window per series group, no global sort.
    ("flux_text_top", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 1d, fn: mean)"
        "\n\t|> top(n: 3)"
    ), FLUX_TEXT_TOP_SQL),
    # Flux ``fill(value:)`` + ``unique()`` via text: empty windows filled
    # with a sentinel, then the first occurrence (by event time) of each
    # distinct value per series.
    ("flux_text_unique", _flux_text_events(
        'from(bucket: "Bucket")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 6h, fn: count, createEmpty: true)"
        "\n\t|> fill(value: 0)"
        "\n\t|> unique()"
    ), FLUX_TEXT_UNIQUE_SQL),
    # aggregateWindow(offset:) — bucket alignment shifted by 2h (Spark
    # window startTime ↔ DuckDB time_bucket offset).
    ("flux_agg_offset", _window_query(every="6h", fn="mean", offset="2h"),
     OFFSET_AGG_SQL),
    # Hopping-window aggregateWindow (Flux ``window(every: 6h, period:
    # 1d)``): 1-day windows sliding 6h — each event fans out to 4 windows
    # JVM-side before one hash aggregation.
    ("flux_agg_sliding", _window_query(every="1d", slide="6h", fn="mean"),
     SLIDING_AGG_SQL),
    # Flux ``pivot(rowKey:, columnKey:, valueColumn:)`` via text: the
    # long point stream reshaped wide — one row per day, one column per
    # series (SURVEY §1.3's long↔wide duality as a pipeline stage).
    ("flux_text_pivot", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 1d, fn: mean)"
        '\n\t|> pivot(rowKey: ["_time"], columnKey: ["event_type"], '
        'valueColumn: "_value")'
    ), FLUX_TEXT_PIVOT_SQL),
    # Flux bare aggregate ``|> last()`` via text: collapse each series to
    # its final windowed value (time-ordered last = ``max_by``, a single
    # hash aggregate — no sort).
    ("flux_text_bare_agg", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> last()"
    ), FLUX_TEXT_BARE_AGG_SQL),
    # Flux ``group()`` (ungroup) + bare ``max()`` via text: drop the
    # series key after the window aggregate, then take the global max —
    # the Flux re-keying idiom.
    ("flux_text_group_max", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 6h, fn: mean)"
        "\n\t|> group()"
        "\n\t|> max()"
    ), FLUX_TEXT_GROUP_MAX_SQL),
    # Flux ``group(columns:)`` BEFORE the aggregate via text: re-key the
    # windowed aggregate by a different column (user_id) than the
    # builder's default series — position-sensitive parsing.
    ("flux_text_group_keys", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> group(columns: ["user_id"])'
        "\n\t|> aggregateWindow(every: 1d, fn: count)"
    ), FLUX_TEXT_GROUP_KEYS_SQL),
    # Flux ``map(fn: (r) => ({ r with _value: ... }))`` via text: the
    # record-rewrite idiom with a restricted arithmetic expression,
    # compiled to a JVM column expression (no Python in the hot path).
    ("flux_text_map", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> aggregateWindow(every: 1d, fn: mean)"
        "\n\t|> map(fn: (r) => ({ r with _value: "
        "(r._value * 2.0 + 1.0) / 2 }))"
    ), FLUX_TEXT_MAP_SQL),
    # Flux ``histogram(bins:)`` via text: per-series cumulative counts at
    # each upper bound — one conditional hash aggregate, the bin fan-out
    # happens in-executor after the shuffle.
    ("flux_text_histogram", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> histogram(bins: [25.0, 50.0, 100.0, 250.0])"
    ), FLUX_TEXT_HISTOGRAM_SQL),
    # Flux ``histogram(bins:) |> histogramQuantile(quantile: 0.9)`` via
    # text: the cumulative-histogram quantile estimate — linear
    # interpolation inside the first bin whose cumulative count reaches
    # ``q·total`` (operators/timeseries.histogram_quantile; the oracle
    # mirrors the bin selection and interpolation verbatim). The
    # histogram is one conditional hash aggregate; the quantile pass is
    # a window + min_by over the |bins|-sized histogram — never
    # data-sized.
    ("flux_text_hist_quantile", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> histogram(bins: [25.0, 50.0, 100.0, 250.0])"
        "\n\t|> histogramQuantile(quantile: 0.9)"
    ), FLUX_TEXT_HIST_QUANTILE_SQL),
    # Flux ``quantile(q:)`` via text as the exact linearly-interpolated
    # per-series quantile (documented divergence from Flux's t-digest
    # default — exact is reproducible; sketches cover the estimating
    # path).
    ("flux_text_quantile", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> quantile(q: 0.9)"
    ), FLUX_TEXT_QUANTILE_SQL),
    # Flux ``window(every:) |> mean()`` via text — the regroup-then-bare-
    # aggregate idiom (window assigns bounds, the aggregate collapses per
    # (series, window)). Plans identically to ``aggregateWindow``: one
    # hash aggregation, map-side combinable.
    ("flux_text_window_agg", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> window(every: 1d)"
        "\n\t|> mean()"
    ), FLUX_TEXT_WINDOW_AGG_SQL),
    # Flux ``duplicate(column:, as:)`` + ``limit(n:, offset:)`` via text:
    # column copy is a pure projection; offset+limit over the sorted
    # stream plans as a distributed top-(offset+n) then a front skip.
    ("flux_text_dup_limit", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        '\n\t|> duplicate(column: "_value", as: "raw")'
        '\n\t|> sort(columns: ["event_id"])'
        "\n\t|> limit(n: 50, offset: 10)"
    ), FLUX_TEXT_DUP_LIMIT_SQL),
    # Flux ``join(tables:, on:)`` script: two named pipelines (daily
    # click mean, daily purchase mean) equi-joined on window time.
    # Colliding non-key columns take the Flux ``_<table>`` suffix. Both
    # sides aggregate before joining, so the join input is |days|×|types|
    # rows — the shuffle is output-bounded.
    ("flux_script_join", _flux_text_events(
        'clicks = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "click")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'purch = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "purchase")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'join(tables: {clicks: clicks, purch: purch}, on: ["_time"])'
    ), FLUX_SCRIPT_JOIN_SQL),
    # Flux ``union(tables:)`` script: the same two named pipelines
    # concatenated (UNION ALL semantics, schema aligned by name).
    ("flux_script_union", _flux_text_events(
        'clicks = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "click")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'purch = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "purchase")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        "union(tables: [clicks, purch])"
    ), FLUX_SCRIPT_UNION_SQL),
    # Flux ``tail(n:)`` then ``sample(n:, pos:)`` via text: last 20
    # records per series (ranked window on a descending event-time sort),
    # then every 2nd of those — both one analytic window over the same
    # series partitioning, no global sort.
    ("flux_text_tail_sample", _flux_text_events(
        'from(bucket: "B")'
        "\n\t|> range(start: 2024-01-05, stop: 2024-01-25)"
        "\n\t|> tail(n: 20)"
        "\n\t|> sample(n: 2, pos: 0)"
    ), FLUX_TEXT_TAIL_SAMPLE_SQL),
    # Flux ``join(method: "left")``: daily click means left-joined to
    # daily error means — days without errors survive with null right
    # columns.
    ("flux_script_join_left", _flux_text_events(
        'clicks = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "click")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'errs = from(bucket: "events")'
        " |> range(start: 2024-01-05, stop: 2024-01-25)"
        ' |> filter(fn: (r) => r["event_type"] == "error")'
        " |> aggregateWindow(every: 1d, fn: mean)\n"
        'join(tables: {clicks: clicks, errs: errs}, on: ["_time"], '
        'method: "left")'
    ), FLUX_SCRIPT_JOIN_LEFT_SQL),
    ("flux_agg_mean", _agg_query("mean"), _agg_sql("avg(value)")),
    ("flux_agg_min", _agg_query("min"), _agg_sql("min(value)")),
    ("flux_agg_max", _agg_query("max"), _agg_sql("max(value)")),
    ("flux_agg_sum", _agg_query("sum"), _agg_sql("sum(value)")),
    ("flux_agg_count", _agg_query("count"), _agg_sql("count(value)")),
    ("flux_agg_first", _agg_query("first"), _agg_sql("arg_min(value, ts)")),
    ("flux_agg_last", _agg_query("last"), _agg_sql("arg_max(value, ts)")),
    ("flux_agg_median", _agg_query("median"), _agg_sql("median(value)")),
    ("flux_agg_stddev", _agg_query("stddev"), _agg_sql("stddev_samp(value)")),
    ("flux_agg_spread", _agg_query("spread"),
     _agg_sql("max(value) - min(value)")),
    ("flux_agg_mode", _agg_query("mode"), MODE_AGG_SQL),
    ("flux_agg_skew", _agg_query("skew"), SKEW_AGG_SQL),
    ("flux_agg_kurtosis", _agg_query("kurtosis"), KURTOSIS_AGG_SQL),
)
