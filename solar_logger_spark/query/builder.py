"""Fluent query builder — the reference's ``QueryBuilder``, Spark-first.

The reference accumulates Flux string fragments and concatenates them in
the fixed pipeline order ``from → range → filter → aggregate → sort``
(reference: ``src/classes/query_classes.py:14-148``, ``_build_string`` at
``:73-84``) and sends the whole pipeline to InfluxDB as one request.
Ours accumulates the same *logical* pieces and renders them as one Spark
SQL pipe statement (``query/pipe.py``, :meth:`QueryBuilder.to_sql`) from
the table scan up: one ``spark.sql`` call hands Catalyst the whole
pipeline, so predicate pushdown / column pruning / filter collapsing are
free (§4 of SURVEY.md: the reference delegates all of this to InfluxDB;
we delegate to Catalyst + parquet), with every user value a named
parameter. Stages with no SQL rendering (createEmpty/integral windows,
the ``_apply_transform`` analytics) run as DataFrame steps after the
statement; a later renderable stage reads that frame as ``{src}``.

Corrected semantics (reference bugs NOT replicated, SURVEY.md §2.11):
unterminated parens and dangling joiners can't exist here because the
plan is structural, not string-concatenation; predicate grouping is
explicit (left-to-right fold within a band, AND across bands).

Result modes mirror ``InfluxConnector.query_database`` (reference:
``src/classes/influx_classes.py:84-105``): ``records()`` ≈ flux mode,
``to_csv()`` ≈ csv mode, ``stream()`` ≈ stream mode (which the reference
left ``NotImplemented`` — ours works).
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F

from solar_logger_spark.durations import duration_to_spark_window, parse_duration
from solar_logger_spark.io import results
from solar_logger_spark.io.tables import scan_columns, scan_sql
from solar_logger_spark.operators.window_agg import AGG_FNS, agg_sql, aggregate_window
from solar_logger_spark.query.pipe import OPS, Statement, esc, ident


# Value-rewriting transforms: Flux name → (operators/timeseries function,
# default n: or None when the stage takes none). Each replaces ``value``
# in place. relativeStrengthIndex, chandeMomentumOscillator, kaufmansER
# and kaufmansAMA leave warm-up rows (fewer than n deltas) and flat
# windows null rather than Flux's row drop / 100-vs-0 edge (the
# operators' documented, oracle-replayable semantics); the EMA tower
# (doubleEMA, tripleEMA) runs in-sample from the first row, and TRIX is
# null on each series head and on a zero previous e3, where Flux drops
# warm-up rows / yields Inf.
_VALUE_STAGES = {
    "difference": ("difference", None),
    "derivative": ("derivative", None),
    "cumulativeSum": ("cumulative_sum", None),
    "increase": ("increase", None),
    "movingAverage": ("moving_average", 5),
    "exponentialMovingAverage": ("exponential_moving_average", 5),
    "relativeStrengthIndex": ("rsi", 14),
    "chandeMomentumOscillator": ("cmo", 10),
    "kaufmansER": ("kaufmans_er", 10),
    "kaufmansAMA": ("kaufmans_ama", 10),
    "doubleEMA": ("double_ema", 10),
    "tripleEMA": ("triple_ema", 10),
    "tripleExponentialDerivative": ("trix", 10),
}

# Flux type conversions of the value column. toInt truncates toward zero
# (Flux/Go semantics — Spark's double->long cast already does); toString
# uses Spark's native cast rendering (documented divergence from Go
# strconv); toBool accepts only exact 0/1 numerics, else null (Flux
# errors — null is filterable and hash-stable).
_CONVERSIONS = {
    "toFloat": "CAST({v} AS DOUBLE)",
    "toInt": "CAST({v} AS BIGINT)",
    "toString": "CAST({v} AS STRING)",
    "toBool": "CASE WHEN ({v} = 1) THEN true WHEN ({v} = 0) THEN false END",
}


# in a regex, a backslash pair ("\d", "\/", "\\") or a bare slash
_REGEX_SLASH = re.compile(r"\\.|/", re.S)


@dataclass
class _Predicate:
    field: str
    value: object
    op: str = "=="
    joiner: str = "and"  # combiner with the PREVIOUS predicate in the band


@dataclass
class _Band:
    predicates: list[_Predicate] = dc_field(default_factory=list)


class QueryBuilder:
    """Compose ``from → range → filter → aggregateWindow → sort`` over a
    parquet path, a table name or a DataFrame, and execute it as one
    SQL pipe statement. A parquet path is the source to prefer: the
    statement then starts at the table scan, and a static ``range()``
    also becomes the scan's raw-int64 predicate (``io.tables.scan_sql``).

    >>> q = (QueryBuilder(points, start_range="-5m")
    ...      .filter("measurement", "fx-1", joiner="or")
    ...      .filter("measurement", "mx-1")
    ...      .aggregate_window("1h", "mean")
    ...      .sort("ts"))
    >>> q.to_df()
    """

    def __init__(
        self,
        source: DataFrame | str,
        start_range: str | datetime | None = None,
        end_range: str | datetime | None = None,
        spark: SparkSession | None = None,
        ts_col: str = "ts",
        value_col: str = "value",
        series_cols: Sequence[str] = ("measurement", "field"),
        now: datetime | None = None,
        tiebreak_cols: Sequence[str] = ("event_id",),
    ) -> None:
        self._df = self._path = self._table = None
        if isinstance(source, str):
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise ValueError("pass spark= when source is a path/table name")
            if source.endswith(".parquet") or "/" in source:
                self._path = source
            else:
                self._table = source
        else:
            self._df, spark = source, source.sparkSession
        self._spark = spark
        self.ts_col = ts_col
        self.value_col = value_col
        self.series_cols = list(series_cols)
        # default window tiebreak: rows tied on (series, ts) at a
        # rank/stride boundary (tail/sample/top/...) would otherwise be
        # engine-order-dependent; any listed column present in the frame
        # is appended to the ordering (the Flux text surface has no
        # tiebreak: argument, so this is how parsed pipelines get one)
        self.tiebreak_cols = list(tiebreak_cols)
        self._now = now  # pin "now" for reproducible relative ranges
        self._start = start_range
        self._end = end_range
        self._bands: list[_Band] = []
        self._agg: tuple[str, str, bool] | None = None
        self._transforms: list[tuple[str, dict]] = []
        self._sorts: list[tuple[str, bool]] = []
        self._projection: list[str] | None = None
        self._limit: int | None = None
        self._offset = 0
        self._hour_sel: tuple[int, int] | None = None
        self._bucket = source if isinstance(source, str) else "df"

    # -- range -------------------------------------------------------
    def range(self, start: str | datetime, stop: str | datetime | None = None):
        """Flux ``range(start, stop)``: start inclusive, stop exclusive,
        stop defaults to now (reference src/classes/query_classes.py:95-106)."""
        self._start, self._end = start, stop
        return self

    def hour_selection(self, start: int, stop: int):
        """Flux ``hourSelection(start:, stop:)`` BEFORE the aggregate:
        keep raw rows whose naive hour-of-day lies in ``[start, stop]``
        (both inclusive, Flux semantics); ``start > stop`` wraps
        midnight. A native ``hour(ts)`` conjunct next to the range
        filter — stays inside the scan's codegen stage, no UDF. After
        the aggregate, ``transform("hourSelection", start=, stop=)``
        filters the windowed rows the same way."""
        start, stop = int(start), int(stop)
        if not (0 <= start <= 23 and 0 <= stop <= 23):
            raise ValueError(f"hours must be in 0..23: {start}, {stop}")
        self._hour_sel = (start, stop)
        return self

    # -- filter ------------------------------------------------------
    def filter(
        self,
        field: str,
        value: object,
        op: str = "==",
        joiner: str | None = None,
        new_band: bool = False,
    ):
        """Append a predicate (reference ``append_filter``,
        src/classes/query_classes.py:108-125).

        ``joiner`` ("and"/"or") combines with the *previous* predicate in
        the band — corrected from the reference's trailing-joiner bug.
        ``new_band=True`` starts a new conjunctive filter stage.
        """
        if op not in OPS:
            raise ValueError(f"unsupported op {op!r}; one of {sorted(OPS)}")
        pred = _Predicate(field, value, op, (joiner or "and").lower())
        if new_band or not self._bands:
            self._bands.append(_Band([pred]))
        else:
            self._bands[-1].predicates.append(pred)
        return self

    def filter_in(self, field: str, values: Sequence[object], new_band: bool = True):
        """The common OR-of-equalities idiom as a single IN predicate."""
        return self.filter(field, list(values), op="in", new_band=new_band)

    # -- aggregate ---------------------------------------------------
    def aggregate_window(self, every: str, fn: str, create_empty: bool = False):
        """Flux ``aggregateWindow(every, fn)`` (reference
        src/classes/query_classes.py:127-137). ``create_empty`` emits
        empty windows too (Flux's ``createEmpty``); the spine covers
        this builder's ``range()`` when both bounds resolve, else the
        data extent."""
        self._agg = (every, fn, create_empty)
        return self

    # -- post-aggregate transforms -----------------------------------
    TRANSFORMS = (
        "difference", "derivative", "cumulativeSum", "increase",
        "movingAverage", "exponentialMovingAverage", "elapsed",
        "timeShift", "fill", "stateCount", "stateDuration",
        "stateChanges", "events.duration",
        "top", "bottom", "distinct", "unique",
        "keep", "drop", "rename",
        "group", "pivot", "map", "reduce", "truncateTimeColumn",
        "histogram", "quantile", "duplicate", "window",
        "tail", "sample",
        "interpolate.linear", "holtWinters", "integral",
        "timedMovingAverage", "relativeStrengthIndex",
        "chandeMomentumOscillator", "kaufmansER", "kaufmansAMA",
        "doubleEMA", "tripleEMA", "tripleExponentialDerivative",
        "histogramQuantile", "hourSelection", "timeWeightedAvg",
        "toFloat", "toInt", "toString", "toBool", "set",
        "highestMax", "highestAverage", "highestCurrent",
        "lowestMin", "lowestAverage", "lowestCurrent",
        # bare Flux aggregates: collapse each series table to one row
        *sorted(AGG_FNS),
    )

    def transform(self, name: str, **params):
        """Append a Flux stdlib transform stage (``difference()``,
        ``derivative()``, ``movingAverage(n:)``, ``stateCount(fn:)``, …)
        applied in sequence after the aggregate. These are
        beyond-reference stages — the reference's builder stops at
        ``aggregateWindow`` — but they are exactly what a Flux user
        writes next, so pipeline strings carrying them keep working
        (operators: ``operators/timeseries.py``)."""
        if name not in self.TRANSFORMS:
            raise ValueError(
                f"unknown transform {name!r}; one of {self.TRANSFORMS}"
            )
        self._transforms.append((name, params))
        return self

    def group(self, columns: Sequence[str] = ()):
        """Flux ``group(columns:)`` BEFORE the aggregate: re-key the
        series grouping used by ``aggregate_window`` and every later
        per-series transform. ``group()`` with no columns ungroups (one
        global table). Placed after the aggregate in a pipeline, use
        ``transform("group", columns=[...])`` — it re-keys only the
        stages that follow it."""
        self.series_cols = list(columns)
        return self

    def _apply_transform(
        self, df: DataFrame, name: str, params: dict,
        series_cols: Sequence[str] | None = None,
    ):
        """One Flux transform stage over the running record shape.

        Value-rewriting stages (difference/derivative/…) follow Flux in
        REPLACING ``value`` and dropping the leading undefined row(s) per
        series; column-adding stages (elapsed/stateCount/stateDuration)
        follow Flux in keeping ``value`` and appending their column."""
        from solar_logger_spark.operators import timeseries as T

        if series_cols is None:
            series_cols = self.series_cols
        series = [c for c in series_cols if c in df.columns]
        ts, val = self.ts_col, self.value_col
        # explicit-empty tiebreak (params["tiebreak"] = ()) must stay
        # empty — `or` would silently substitute the default columns
        tiebreak = (
            params["tiebreak"]
            if "tiebreak" in params and params["tiebreak"] is not None
            else [c for c in self.tiebreak_cols if c in df.columns]
        )
        if name == "timeShift":
            return T.time_shift(df, params["duration"], ts_col=ts)
        if name in ("top", "bottom"):
            # Flux top/bottom(n:): n extreme records by value per series
            # group; ties broken by (ts, tiebreak) so the cut is
            # deterministic. Plans as one ranked window, no global sort.
            from pyspark.sql import Window

            n = int(params.get("n", 5))
            vcol = F.col(val).desc() if name == "top" else F.col(val).asc()
            w = Window.partitionBy(*series).orderBy(
                vcol, F.col(ts).asc(), *[F.col(c) for c in tiebreak]
            )
            return (
                df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= n)
                .drop("_rk")
            )
        if name == "timeWeightedAvg":
            # bare Flux timeWeightedAvg(unit:): whole-table trapezoid
            # mean per series; unit cancels out of the quotient, so it
            # is accepted and ignored (operators/timeseries.time_weighted_avg)
            return T.time_weighted_avg(
                df, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias=val,
            )
        _SELECTORS = {
            "highestMax": ("extreme", False),
            "highestAverage": ("average", False),
            "highestCurrent": ("current", False),
            "lowestMin": ("extreme", True),
            "lowestAverage": ("average", True),
            "lowestCurrent": ("current", True),
        }
        if name in _SELECTORS:
            # Flux table-stream selectors: one record per series, then
            # the global top/bottom n (operators/timeseries.series_selector)
            stat, lowest = _SELECTORS[name]
            return T.series_selector(
                df, int(params.get("n", 10)), stat, lowest, series,
                ts_col=ts, value_col=val, tiebreak=tiebreak,
            )
        if name == "fill":
            out = T.forward_fill(
                df, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias="_t",
            )
            return out.withColumn(val, F.col("_t")).drop("_t")
        if name == "integral":
            # Bare Flux ``integral(unit:)``: per series, the trapezoid
            # area under consecutive points over the WHOLE table, in
            # value·unit (default 1s) — the un-windowed sibling of
            # aggregateWindow(fn: integral). One analytic lag over the
            # series partitioning + a hash agg on the same keys (the
            # exchange is reused — integral_window's plan argument).
            from pyspark.sql import Window

            from solar_logger_spark.durations import epoch_seconds

            u = float(params.get("unit_seconds", 1.0))
            # value as tiebreak: equal timestamps otherwise pair with
            # lag() nondeterministically (the integral_window rule)
            spec = Window.partitionBy(*series).orderBy(
                F.col(ts).asc(), F.col(val).asc()
            )
            area = (
                (F.col(val) + F.lag(val).over(spec)) / 2.0
                * (
                    epoch_seconds(ts)
                    - F.lag(epoch_seconds(ts)).over(spec)
                )
                / F.lit(u)
            )
            return (
                df.withColumn("_a", area)
                .groupBy(*series)
                .agg(F.coalesce(F.sum("_a"), F.lit(0.0)).alias(val))
            )
        if name == "timedMovingAverage":
            # Flux ``timedMovingAverage(every:, period:)``: mean over
            # the trailing ``period``, one row per ``every`` boundary,
            # stamped at window stop — exactly a hopping-window mean
            # (aggregate_window width=period, stride=every); Spark's
            # window() expands the fan-out JVM-side before one hash agg.
            return aggregate_window(
                df, every=params["period"], fn="mean", by=series,
                ts_col=ts, value_col=val, alias=val, label="stop",
                slide=params["every"],
            )
        if name == "interpolate.linear":
            # Flux ``interpolate.linear``: null values replaced by the
            # time-weighted line between the nearest non-null series
            # neighbors (leading/trailing nulls stay null). Fills IN
            # PLACE — the every:-driven row creation is rejected at
            # parse time (documented divergence).
            out = T.interpolate_linear(
                df, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias="_t",
            )
            return out.withColumn(val, F.col("_t")).drop("_t")
        if name == "holtWinters":
            # Flux ``holtWinters(seasonality:)`` family: appends the
            # fitted level/trend(/seasonal) components per row — the
            # full recursion, in-sample, rather than Flux's n-step
            # forecast emission; alpha/beta/gamma are pinned (not
            # fitted) so results are reproducible and oracle-checkable
            # (the ts_* family's documented divergence).
            period = int(params.get("seasonality", 0))
            kw = {
                k: float(params[k])
                for k in ("alpha", "beta", "gamma") if k in params
            }
            if period >= 1:
                return T.holt_winters(
                    df, series, period, ts_col=ts, value_col=val,
                    tiebreak=tiebreak, **kw,
                )
            kw.pop("gamma", None)
            return T.holt_smoothing(
                df, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, **kw,
            )
        if name == "reduce":
            # Flux reduce(fn:, identity:) lowered to native aggregates
            # per series table (the parser recognizes running-sum /
            # running-extreme accumulator updates — flux_parser.
            # _reduce_aggs); one hash aggregate, map-side combinable.
            return df.groupBy(*series).agg(*params["aggs"])
        if name == "histogram":
            # Flux histogram(bins:): per series, CUMULATIVE count of
            # values <= each bin upper bound, one row per bound in an
            # ``le`` column. One conditional hash aggregate (map-side
            # combinable) then a |bins|-wide in-executor fan-out — no
            # per-bin scan, no extra shuffle.
            bins = sorted(float(b) for b in params["bins"])
            if not bins:
                raise ValueError("histogram needs bins=[...]")
            aggs = [
                F.sum((F.col(val) <= b).cast("long")).alias(f"_b{i}")
                for i, b in enumerate(bins)
            ]
            agg = df.groupBy(*series).agg(*aggs)
            pairs = F.array(*[
                F.struct(
                    F.lit(b).alias("le"),
                    F.col(f"_b{i}").cast("double").alias("v"),
                )
                for i, b in enumerate(bins)
            ])
            return agg.select(*series, F.explode(pairs).alias("_p")).select(
                *series, F.col("_p.le").alias("le"), F.col("_p.v").alias(val)
            )
        if name == "histogramQuantile":
            # Flux histogramQuantile(quantile:, minValue:) — consumes
            # the cumulative histogram(bins:) stage's (le, count)
            # rows; linear interpolation inside the first bin whose
            # cumulative count reaches q·total (documented semantics,
            # operators/timeseries.histogram_quantile — the SQL twin
            # mirrors the selection and the interpolation verbatim).
            # One window + one min_by aggregate over |bins|-sized
            # input, never data-sized.
            if "le" not in df.columns:
                raise ValueError(
                    "histogramQuantile needs the histogram(bins:) "
                    "stage's output (no 'le' column found)"
                )
            return T.histogram_quantile(
                df,
                q=float(params.get("quantile", 0.5)),
                series=series,
                le_col="le",
                count_col=val,
                min_value=float(params.get("min_value", 0.0)),
                alias=val,
            )
        if name == "pivot":
            # Flux pivot(rowKey:, columnKey:, valueColumn:) — wide view.
            # (rowKey, columnKey) pairs are unique in Flux output tables
            # (last-wins on collision); max() is deterministic either way
            # and keeps the plan a single hash aggregation. Passing
            # values= pins the output schema and skips Spark's
            # distinct-values pre-job — pass it whenever known.
            row_key = list(params.get("row_key") or [ts])
            col_key = list(params.get("column_key") or [])
            if not col_key:
                raise ValueError("pivot needs column_key=[...]")
            vcol = params.get("value_column", val)
            values = params.get("values")
            if len(col_key) == 1:
                key = col_key[0]
            else:
                # Flux joins multi-column keys with "_"
                df = df.withColumn("_ck", F.concat_ws("_", *col_key))
                key = "_ck"
            gb = df.groupBy(*row_key)
            pv = gb.pivot(key, list(values)) if values else gb.pivot(key)
            return pv.agg(F.max(vcol))
        if name == "map":
            # Flux map(fn: (r) => ({ r with <target>: <expr> })) — the
            # record-rewrite idiom, restricted to arithmetic over record
            # fields (parsed by flux_parser) or a caller-supplied Column.
            return df.withColumn(params["target"], params["column"])
        if name == "tail":
            # Flux tail(n:): the LAST n records per series by event time
            # — one ranked window on a descending sort, no global sort
            from pyspark.sql import Window

            n = int(params.get("n", 5))
            w = Window.partitionBy(*series).orderBy(
                F.col(ts).desc(), *[F.col(c).desc() for c in tiebreak]
            )
            return (
                df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= n)
                .drop("_rk")
            )
        if name == "sample":
            # Flux sample(n:, pos:): every n-th record per series in
            # event-time order, starting at offset pos. Flux's default
            # pos is random; ours is 0 (documented divergence —
            # deterministic and reproducible, like the sampling ops).
            from pyspark.sql import Window

            n = int(params["n"])
            pos = int(params.get("pos", 0)) % n
            w = Window.partitionBy(*series).orderBy(
                F.col(ts).asc(), *[F.col(c).asc() for c in tiebreak]
            )
            return (
                df.withColumn("_rk", F.row_number().over(w))
                .filter((F.col("_rk") - 1) % n == pos)
                .drop("_rk")
            )
        if name == "window":
            # Flux window(every:[, offset:]) — assign each record to its
            # tumbling window by adding _start/_stop bound columns
            # (window_start/window_stop here). Re-keying of later stages
            # happens in to_df, which appends window_start to the running
            # series — so a following bare aggregate collapses per
            # (series, window), exactly Flux's window|>agg idiom. Pure
            # column arithmetic — the grouping shuffle belongs to
            # whatever stage consumes it.
            from solar_logger_spark.durations import duration_to_spark_window

            width = duration_to_spark_window(params["every"])
            start_time = None
            if params.get("offset"):
                start_time = duration_to_spark_window(params["offset"])
            win = F.window(F.col(ts), width, width, start_time)
            return (
                df.withColumn("_w", win)
                .withColumn("window_start", F.col("_w.start"))
                .withColumn("window_stop", F.col("_w.end"))
                .drop("_w")
            )
        if name == "distinct":
            # Flux distinct(): the distinct values of the column per
            # series group; non-group columns are dropped (Flux keeps
            # only _value + group key)
            return df.select(*series, val).distinct()
        if name == "unique":
            # Flux unique(): full rows, first occurrence (by event time)
            # of each distinct value per series
            from pyspark.sql import Window

            w = Window.partitionBy(*series, val).orderBy(
                F.col(ts).asc(), *[F.col(c) for c in tiebreak]
            )
            return (
                df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .drop("_rk")
            )
        if name == "elapsed":
            return T.elapsed(
                df, series, ts_col=ts, tiebreak=tiebreak, alias="elapsed",
                unit_seconds=params.get("unit_seconds", 1.0),
            )
        if name == "stateCount":
            return T.state_count(
                df, params["predicate"], series, ts_col=ts,
                tiebreak=tiebreak, alias="state_count",
            )
        if name == "stateDuration":
            return T.state_duration(
                df, params["predicate"], series, ts_col=ts,
                tiebreak=tiebreak, alias="state_duration",
                unit_seconds=params.get("unit_seconds", 1.0),
            )
        if name == "stateChanges":
            # transitions only, new state in `state`
            # (operators/timeseries.state_changes)
            return T.state_changes(
                df, params["predicate"], series, ts_col=ts,
                tiebreak=tiebreak, alias="state",
            )
        if name == "events.duration":
            return T.event_duration(
                df, series, ts_col=ts, tiebreak=tiebreak,
                unit_seconds=params.get("unit_seconds", 1.0),
                alias="duration",
            )
        fname, n_default = _VALUE_STAGES[name]
        kw = {} if n_default is None else {"n": int(params.get("n", n_default))}
        if name == "derivative":
            kw["non_negative"] = bool(params.get("non_negative", False))
        out = getattr(T, fname)(
            df, series=series, ts_col=ts, value_col=val,
            tiebreak=tiebreak, alias="_t", **kw,
        )
        out = out.withColumn(val, F.col("_t")).drop("_t")
        # Flux drops rows where the stage is undefined (first row per
        # series for difference/derivative; movingAverage's first n-1
        # rows keep the partial mean — Flux emits those when
        # ``shift``-less, our documented default)
        if name in ("difference", "derivative"):
            out = out.filter(F.col(val).isNotNull())
        return out

    # -- sort --------------------------------------------------------
    def sort(self, field: str, desc: bool = False):
        """Flux ``sort(columns: [field], desc:)`` (reference
        src/classes/query_classes.py:139-148)."""
        self._sorts.append((field, desc))
        return self

    def select(self, *cols: str):
        """Final projection (the reference's ``parse_flux`` projects to a
        fixed 4-column record shape; ours is caller-chosen)."""
        self._projection = list(cols)
        return self

    def limit(self, n: int, offset: int = 0):
        """Flux ``limit(n:[, offset:])`` — not exposed by the reference's
        builder (SURVEY §2.6, beyond-reference built-in). With a
        preceding ``sort`` this plans as a distributed top-(offset+n)
        (TakeOrdered), not a full sort; ``offset`` rows are then skipped
        from the front of the ordered result."""
        self._limit = n
        self._offset = offset
        return self

    def _static(self, bound):
        """A range bound as a datetime when it resolves without running
        anything (a datetime, an ISO timestamp string, or a duration with
        a pinned ``now``), else None."""
        if bound is None or isinstance(bound, datetime):
            return bound
        try:
            dur = parse_duration(bound)
        except (ValueError, TypeError):
            try:
                return datetime.fromisoformat(str(bound))
            except ValueError:
                return None
        return dur.add_to(self._now) if self._now is not None else None

    def _bound_sql(self, st: Statement, bound) -> str:
        """A range bound as SQL: a datetime, an absolute timestamp
        string, or a Flux duration relative to now (the pinned ``now``
        when given, else the statement's ``current_timestamp()``)."""
        if isinstance(bound, datetime):
            return st.param(bound)
        try:
            dur = parse_duration(bound)
        except ValueError:
            return f"to_timestamp({st.param(bound)})"
        if self._now is not None:
            return st.param(dur.add_to(self._now))
        anchor = "current_timestamp()"
        if dur.months:
            anchor = f"add_months({anchor}, {st.param(dur.months)})"
        return f"({anchor} + {st.param(timedelta(seconds=int(dur.seconds)))})"

    # -- build -------------------------------------------------------
    def _build(self, prefix: str = "", render_only: bool = False) -> Statement:
        """Render the pipeline in the reference's fixed order (from →
        range → filter → aggregate → transforms → sort → limit). The
        source is the table scan (this builder's static range pushed to
        it as raw int64), a catalog table, or a DataFrame read as
        ``{src}``. A stage without a SQL rendering runs the statement so
        far, applies itself as a DataFrame step, and the next stage
        starts a new statement over its frame; with ``render_only`` it
        raises instead."""
        lo, hi = self._static(self._start), self._static(self._end)
        if self._df is not None:
            st = Statement.over(self._df, prefix)
        elif self._path is not None:
            # the statement reads a timestamp string in the session time
            # zone, up to a day off UTC, so its scan bound is widened by
            # a day: the pushed predicate only has to be a superset
            day = timedelta(days=1)
            scan_lo = lo - day if lo and isinstance(self._start, str) else lo
            scan_hi = hi + day if hi and isinstance(self._end, str) else hi
            st = Statement(self._spark, prefix)
            text, st.args = scan_sql(
                self._spark, self._path,
                {self.ts_col: (scan_lo, scan_hi)} if lo or hi else None,
            )
            st.text, st.columns = esc(text), list(scan_columns(self._spark, self._path))
        else:
            st = Statement(self._spark, prefix)
            st.text = f"FROM IDENTIFIER({st.param(self._table)})"
            st.columns = list(self._spark.table(self._table).columns)

        def step(name: str, apply) -> None:
            nonlocal st
            if render_only:
                raise ValueError(f"stage {name!r} has no SQL rendering")
            st = Statement.over(apply(st.frame()), prefix)

        ts, v = ident(self.ts_col), ident(self.value_col)
        if self._start is not None:
            st.pipe(f"WHERE {ts} >= {self._bound_sql(st, self._start)}")
        if self._end is not None:
            st.pipe(f"WHERE {ts} < {self._bound_sql(st, self._end)}")
        if self._hour_sel is not None:
            st.where_hours(self.ts_col, *self._hour_sel)
        for band in self._bands:
            st.where_band(band.predicates)
        if self._agg is not None:
            every, fn, create_empty = self._agg
            by = [c for c in self.series_cols if c in st.columns]
            if create_empty or fn not in AGG_FNS:
                # the createEmpty spine covers range() when both bounds
                # resolve, else the data extent
                step("aggregateWindow", lambda df: aggregate_window(
                    df, every, fn, by=by, ts_col=self.ts_col,
                    value_col=self.value_col, alias=self.value_col,
                    create_empty=create_empty,
                    bounds=(lo, hi) if create_empty and lo and hi else None,
                ))
            else:
                # a plain tumbling window: aggregate_window's plan, one
                # hash aggregate on (window, series), labeled by stop
                keys = "".join(f", {ident(c)}" for c in by)
                width = st.param(duration_to_spark_window(every))
                st.pipe(
                    f"AGGREGATE {esc(agg_sql(fn, self.value_col, self.ts_col))}"
                    f" AS {v} GROUP BY window({ts}, {width}) AS `window`{keys}"
                )
                st.pipe(f"SELECT `window`.`end` AS {ts}{keys}, {v}")
                st.columns = [self.ts_col, *by, self.value_col]
        run_series = list(self.series_cols)
        for name, params in self._transforms:
            if name == "group":
                # post-aggregate group(): re-key (or ungroup) the series
                # grouping for every stage that follows — pure plan
                # metadata, no job of its own
                run_series = list(params.get("columns") or [])
            elif name == "hourSelection":
                # post-aggregate: filter the CURRENT rows by their
                # (possibly window-labeled) time's hour-of-day
                st.where_hours(self.ts_col, int(params["start"]), int(params["stop"]))
            elif name in _CONVERSIONS:
                st.with_column(self.value_col, _CONVERSIONS[name].format(v=v))
            elif name == "set":
                # Flux set(key:, value:): add/overwrite a STRING column —
                # the tag-before-union idiom
                st.with_column(str(params["key"]), st.param(str(params["value"])))
            elif name == "duplicate":
                st.with_column(params["as"], ident(params["column"]))
            elif name == "fill" and "value" in params:
                # Flux fill(value:) — nulls become the constant
                st.with_column(self.value_col, f"coalesce({v}, {st.param(params['value'])})")
            elif name == "truncateTimeColumn":
                # floor the time column to the unit boundary
                sec = st.param(int(params["unit_seconds"]))
                st.with_column(
                    self.ts_col,
                    f"timestamp_seconds((FLOOR((unix_timestamp({ts}) / {sec})) * {sec}))",
                )
            elif name in AGG_FNS or name == "quantile":
                # Bare Flux aggregate (``|> mean()``, ``|> last()``, …):
                # collapse each series table to one row; Flux drops the
                # time column on the way. One hash aggregate with
                # map-side partial combine — shuffle volume is |series|.
                # quantile(q:) is the EXACT linearly-interpolated
                # quantile, not Flux's t-digest estimate (documented
                # divergence — exact is reproducible and oracle-checkable)
                series = [c for c in run_series if c in st.columns]
                agg = (
                    f"percentile({v}, {st.param(float(params.get('q', 0.5)))})"
                    if name == "quantile"
                    else esc(agg_sql(name, self.value_col, self.ts_col))
                )
                st.pipe(f"AGGREGATE {agg} AS {v}" + (
                    f" GROUP BY {', '.join(map(ident, series))}" if series else ""
                ))
                st.columns = [*series, self.value_col]
            elif name == "keep":
                # Flux keep(columns:) — project to the listed columns
                st.select([(c, c) for c in params["columns"] if c in st.columns])
            elif name == "drop":
                st.select([(c, c) for c in st.columns if c not in params["columns"]])
            elif name == "rename":
                st.select([(c, params["columns"].get(c, c)) for c in st.columns])
            else:
                step(name, lambda df, name=name, params=params, series=run_series:
                     self._apply_transform(df, name, params, series))
                if name == "window":
                    # window() re-keys every later stage per (series, window)
                    run_series = run_series + ["window_start"]
        for fld, desc in self._sorts:
            st.pipe(f"ORDER BY {ident(fld)} {'DESC' if desc else 'ASC'}")
        if self._projection:
            st.select([(c, c) for c in self._projection])
        if self._limit is not None:
            off = f" OFFSET {st.param(self._offset)}" if self._offset else ""
            st.pipe(f"LIMIT {st.param(self._limit)}{off}")
        return st

    def to_sql(self) -> tuple[str, dict]:
        """The pipeline as one Spark SQL pipe statement: ``(text, args)``
        for ``spark.sql(text, args)``. Every user value is a named
        parameter in ``args``; the text holds only SQL, parameter
        markers and quoted identifiers. A DataFrame source appears as
        ``{src}`` (pass it as ``spark.sql(text, args, src=df)``). Raises
        ``ValueError`` when a stage has no SQL rendering."""
        st = self._build(render_only=True)
        return st.sql(), dict(st.args)

    def to_df(self) -> DataFrame:
        """Materialize the plan in the reference's fixed pipeline order:
        from → range → filter → aggregate → sort — one ``spark.sql``
        statement from the scan up to the first stage without a SQL
        rendering (see the module docstring)."""
        return self._build().frame()

    # -- rendering ----------------------------------------------------
    def to_flux(self) -> str:
        """Render the accumulated pipeline as *corrected* Flux text.

        The reference builds this string as its only IR and emits broken
        syntax — unclosed ``aggregateWindow(``/``sort(`` parens and
        dangling ``Or`` joiners, golden-asserted by its own tests
        (SURVEY §2.11.1, ``src/classes/query_classes.py:123-148``).
        Here the plan is structural, so rendering is total: every paren
        closes and joiners only appear between predicates. Useful for
        logging/debugging and for parity review against the reference's
        query strings."""
        def _bound(b) -> str:
            return b.isoformat() if isinstance(b, datetime) else str(b)

        parts = [f'from(bucket: "{self._bucket}")']
        if self._start is not None or self._end is not None:
            rng = f"start: {_bound(self._start)}" if self._start is not None else "start: 0"
            if self._end is not None:
                rng += f", stop: {_bound(self._end)}"
            parts.append(f"range({rng})")
        if self._hour_sel is not None:
            parts.append(
                f"hourSelection(start: {self._hour_sel[0]}, "
                f"stop: {self._hour_sel[1]})"
            )
        def _lit(v) -> str:
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, str):
                return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
            return repr(v)

        for band in self._bands:
            terms = []
            for i, p in enumerate(band.predicates):
                if p.op == "in":
                    vals = p.value if isinstance(p.value, (list, tuple, set)) else [p.value]
                    items = ", ".join(_lit(v) for v in vals)
                    term = f'contains(value: r["{p.field}"], set: [{items}])'
                elif p.op == "=~":
                    # Flux's regex literal: /pattern/, a bare slash
                    # escaped as \/ and every backslash pair kept as written
                    pattern = _REGEX_SLASH.sub(
                        lambda m: "\\/" if m.group() == "/" else m.group(), str(p.value)
                    )
                    term = f'r["{p.field}"] =~ /{pattern}/'
                else:
                    term = f'r["{p.field}"] {p.op} {_lit(p.value)}'
                if i > 0:
                    term = f"{p.joiner} {term}"
                terms.append(term)
            parts.append(f"filter(fn: (r) => {' '.join(terms)})")
        if self._agg is not None:
            every, fn, create_empty = self._agg
            ce = f", createEmpty: {str(create_empty).lower()}" if create_empty else ""
            parts.append(f"aggregateWindow(every: {every}, fn: {fn}{ce})")
        for name, params in self._transforms:
            args = []
            if "n" in params:
                args.append(f"n: {params['n']}")
            if "duration" in params:
                args.append(f"duration: {params['duration']}")
            if name == "set":
                args.append(f"key: \"{params['key']}\", "
                            f"value: \"{params['value']}\"")
            elif "value" in params:
                args.append(f"value: {params['value']}")
            if "unit_seconds" in params:
                args.append(f"unit: {int(params['unit_seconds'])}s")
            if name == "hourSelection":
                args.append(f"start: {params['start']}, "
                            f"stop: {params['stop']}")
            if "predicate" in params:
                # Column predicates don't round-trip to Flux source; a
                # placeholder keeps the rendering total (debug aid only)
                args.append("fn: (r) => <predicate>")
            if name == "group" and params.get("columns"):
                cols = ", ".join(f'"{c}"' for c in params["columns"])
                args.append(f"columns: [{cols}]")
            if name == "pivot":
                rk = ", ".join(f'"{c}"' for c in (params.get("row_key") or []))
                ck = ", ".join(f'"{c}"' for c in (params.get("column_key") or []))
                args.append(f"rowKey: [{rk}], columnKey: [{ck}], "
                            f"valueColumn: \"{params.get('value_column', '_value')}\"")
            if name == "map":
                src = params.get("source", "<expr>")
                args.append(f"fn: (r) => ({{ r with {params.get('target', '_value')}: {src} }})")
            if name == "reduce":
                args.append(
                    f"fn: (r, accumulator) => "
                    f"({{ {params.get('fn_src', '<fn>')} }}), "
                    f"identity: {{{params.get('identity_src', '')}}}"
                )
            parts.append(f"{name}({', '.join(args)})")
        for fld, desc in self._sorts:
            parts.append(f'sort(columns: ["{fld}"], desc: {str(desc).lower()})')
        if self._limit is not None:
            off = f", offset: {self._offset}" if self._offset else ""
            parts.append(f"limit(n: {self._limit}{off})")
        return " |> ".join(parts)

    def __str__(self) -> str:  # parity with the reference's __str__
        return self.to_flux()

    # -- result modes (reference influx_classes.py:84-105) ------------
    def records(self) -> list[dict]:
        """"flux" mode: fully-parsed records (reference parse_flux,
        src/app/influx_query.py:35-54)."""
        return results.records(self.to_df())

    def to_csv(self, path: str, mode: str = "overwrite", header: bool = True) -> None:
        """"csv" mode + CSV sink (reference write_results_to_csv,
        src/helpers/py_functions.py:13-35)."""
        results.write_results_to_csv(
            self.to_df(), path, mode=mode, header=header
        )

    def stream(self) -> Iterator[dict]:
        """"stream" mode — the reference's ``parse_stream`` raises
        NotImplementedError (src/app/influx_query.py:56-62); ours yields
        records incrementally without materializing the result."""
        return results.stream_records(self.to_df())
