"""Fluent query builder — the reference's ``QueryBuilder``, Spark-first.

The reference accumulates Flux string fragments and concatenates them in
the fixed pipeline order ``from → range → filter → aggregate → sort``
(reference: ``src/classes/query_classes.py:14-148``, ``_build_string`` at
``:73-84``). Ours accumulates the same *logical* pieces but materializes
them as a lazy DataFrame plan — Catalyst's analyzed plan is the IR, so
predicate pushdown / column pruning / filter collapsing are free (§4 of
SURVEY.md: the reference delegates all of this to InfluxDB; we delegate
to Catalyst + parquet).

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

from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field as dc_field
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from solar_logger_spark.durations import parse_duration
from solar_logger_spark.io import results
from solar_logger_spark.operators.window_agg import AGG_FNS, agg_expr, aggregate_window

_OPS = {
    "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    "=~": lambda c, v: c.rlike(v),
    "in": lambda c, v: c.isin(*v) if isinstance(v, (list, tuple, set)) else c.isin(v),
}


@dataclass
class _Predicate:
    field: str
    value: object
    op: str = "=="
    joiner: str = "and"  # combiner with the PREVIOUS predicate in the band

    def column(self) -> Column:
        return _OPS[self.op](F.col(self.field), self.value)


@dataclass
class _Band:
    predicates: list[_Predicate] = dc_field(default_factory=list)

    def column(self) -> Column:
        out = self.predicates[0].column()
        for pred in self.predicates[1:]:
            out = (out | pred.column()) if pred.joiner == "or" else (out & pred.column())
        return out


def _time_bound(bound: str | datetime, now: datetime | None) -> Column:
    """A range bound: Flux duration literal (relative to now) or datetime."""
    if isinstance(bound, datetime):
        return F.lit(bound)
    try:
        dur = parse_duration(bound)
    except ValueError:
        # absolute timestamp string
        return F.to_timestamp(F.lit(bound))
    if now is not None:
        return F.lit(dur.add_to(now))
    anchor = F.current_timestamp()
    if dur.months:
        anchor = F.add_months(anchor, dur.months)
    return anchor + F.expr(f"INTERVAL '{int(dur.seconds)}' SECOND")


class QueryBuilder:
    """Compose ``from → range → filter → aggregateWindow → sort`` over a
    DataFrame (or parquet path / table name) and execute it.

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
        if isinstance(source, str):
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise ValueError("pass spark= when source is a path/table name")
            if source.endswith(".parquet") or "/" in source:
                from solar_logger_spark.io.tables import read_parquet

                self._df = read_parquet(spark, source)
            else:
                self._df = spark.table(source)
        else:
            self._df = source
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
        filter — stays inside the scan's codegen stage, no UDF."""
        start, stop = int(start), int(stop)
        if not (0 <= start <= 23 and 0 <= stop <= 23):
            raise ValueError(f"hours must be in 0..23: {start}, {stop}")
        self._hour_sel = (start, stop)
        return self

    @staticmethod
    def _hour_pred(col: Column, start: int, stop: int) -> Column:
        h = F.hour(col)
        if start <= stop:
            return (h >= start) & (h <= stop)
        return (h >= start) | (h <= stop)

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
        if op not in _OPS:
            raise ValueError(f"unsupported op {op!r}; one of {sorted(_OPS)}")
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
        if name == "set":
            # Flux set(key:, value:): add/overwrite a STRING column —
            # the tag-before-union idiom. A literal column, no shuffle.
            return df.withColumn(
                str(params["key"]), F.lit(str(params["value"]))
            )
        if name in ("toFloat", "toInt", "toString", "toBool"):
            # Flux type-conversion stages over the value column.
            # toInt truncates toward zero (Flux/Go semantics — Spark's
            # double->long cast already does); toString uses Spark's
            # native cast rendering (documented divergence from Go
            # strconv); toBool accepts only exact 0/1 numerics, else
            # null (Flux errors — null is filterable and hash-stable).
            v = F.col(val)
            conv = {
                "toFloat": v.cast("double"),
                "toInt": v.cast("bigint"),
                "toString": v.cast("string"),
                "toBool": F.when(v == 1, F.lit(True)).when(
                    v == 0, F.lit(False)
                ),
            }[name]
            return df.withColumn(val, conv)
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
        if name == "hourSelection":
            # post-aggregate hourSelection: filter the CURRENT rows by
            # their (possibly window-labeled) time's hour-of-day
            return df.filter(
                self._hour_pred(
                    F.col(ts), int(params["start"]), int(params["stop"])
                )
            )
        if name == "fill":
            if "value" in params:
                # Flux fill(value:) — nulls become the constant
                return df.withColumn(
                    val, F.coalesce(F.col(val), F.lit(params["value"]))
                )
            out = T.forward_fill(
                df, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias="_t",
            )
            return out.withColumn(val, F.col("_t")).drop("_t")
        if name in AGG_FNS:
            # Bare Flux aggregate (``|> mean()``, ``|> last()``, …):
            # collapse each series table to one row; Flux drops the time
            # column on the way. Single hash aggregate with map-side
            # partial combine — shuffle volume is |series|, not rows.
            return df.groupBy(*series).agg(agg_expr(name, val, ts).alias(val))
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
        if name == "quantile":
            # Flux quantile(q:) as a bare aggregate. Flux's default
            # method is a t-digest estimate; ours is the EXACT linearly-
            # interpolated quantile (documented divergence — exact is
            # reproducible and oracle-checkable; use the HLL/quantile
            # sketches in operators/sketches.py for the estimating path)
            q = float(params.get("q", 0.5))
            return df.groupBy(*series).agg(
                F.expr(f"percentile({val}, {q!r})").alias(val)
            )
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
        if name == "truncateTimeColumn":
            # Flux truncateTimeColumn(unit:) — floor the time column to
            # the unit boundary; pure column arithmetic, no shuffle
            sec = int(params["unit_seconds"])
            return df.withColumn(
                ts,
                F.timestamp_seconds(
                    F.floor(F.unix_timestamp(F.col(ts)) / sec) * sec
                ),
            )
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
        if name == "duplicate":
            # Flux duplicate(column:, as:) — copy a column under a new
            # name; pure projection, no shuffle
            return df.withColumn(params["as"], F.col(params["column"]))
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
        if name == "keep":
            # Flux keep(columns:) — project to the listed columns
            cols = [c for c in params["columns"] if c in df.columns]
            return df.select(*cols)
        if name == "drop":
            return df.drop(*params["columns"])
        if name == "rename":
            for old, new in params["columns"].items():
                df = df.withColumnRenamed(old, new)
            return df
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
        fn = {
            "difference": lambda d: T.difference(
                d, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias="_t",
            ),
            "derivative": lambda d: T.derivative(
                d, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias="_t",
                non_negative=bool(params.get("non_negative", False)),
            ),
            "cumulativeSum": lambda d: T.cumulative_sum(
                d, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias="_t",
            ),
            "increase": lambda d: T.increase(
                d, series, ts_col=ts, value_col=val,
                tiebreak=tiebreak, alias="_t",
            ),
            "movingAverage": lambda d: T.moving_average(
                d, int(params.get("n", 5)), series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            "exponentialMovingAverage": lambda d: T.exponential_moving_average(
                d, n=int(params.get("n", 5)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            # Flux relativeStrengthIndex(n:): value replaced in place;
            # warm-up rows (fewer than n deltas) and flat windows stay
            # null rather than Flux's row drop / 100-vs-0 edge — the
            # ts_rsi_events operator's documented, oracle-replayable
            # semantics (operators/timeseries.rsi)
            "relativeStrengthIndex": lambda d: T.rsi(
                d, n=int(params.get("n", 14)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            # CMO/ER share rsi's in-place-replace, null-on-warm-up
            # contract (operators/timeseries.cmo / kaufmans_er)
            "chandeMomentumOscillator": lambda d: T.cmo(
                d, n=int(params.get("n", 10)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            "kaufmansER": lambda d: T.kaufmans_er(
                d, n=int(params.get("n", 10)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            # KAMA (operators/timeseries.kaufmans_ama): the ER-adaptive
            # EMA; null warm-up, first full-window row seeds with its
            # own value, flat windows use ER = 0
            "kaufmansAMA": lambda d: T.kaufmans_ama(
                d, n=int(params.get("n", 10)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            # EMA tower (operators/timeseries.double_ema/triple_ema):
            # in-sample from the first row, the ts_ema family's
            # documented divergence from Flux's warm-up drop
            "doubleEMA": lambda d: T.double_ema(
                d, n=int(params.get("n", 10)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            "tripleEMA": lambda d: T.triple_ema(
                d, n=int(params.get("n", 10)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
            # TRIX (operators/timeseries.trix): 1-lag percent change
            # of the triple-smoothed EMA; null on each series head and
            # on a zero previous e3 (documented divergence from Flux's
            # warm-up drop / Inf)
            "tripleExponentialDerivative": lambda d: T.trix(
                d, n=int(params.get("n", 10)), series=series, ts_col=ts,
                value_col=val, tiebreak=tiebreak, alias="_t",
            ),
        }[name]
        out = fn(df).withColumn(val, F.col("_t")).drop("_t")
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

    def _resolved_bounds(self) -> tuple[datetime, datetime] | None:
        """This builder's range as concrete datetimes, when both bounds
        are statically resolvable (datetime literals, or durations with
        a pinned ``now``). None → callers fall back to data extent."""

        def _one(bound):
            if isinstance(bound, datetime):
                return bound
            try:
                dur = parse_duration(bound)
            except (ValueError, TypeError):
                try:
                    return datetime.fromisoformat(str(bound))
                except ValueError:
                    return None
            return dur.add_to(self._now) if self._now is not None else None

        if self._start is None or self._end is None:
            return None
        start, end = _one(self._start), _one(self._end)
        if start is None or end is None:
            return None
        return (start, end)

    # -- build -------------------------------------------------------
    def to_df(self) -> DataFrame:
        """Materialize the plan in the reference's fixed pipeline order:
        from → range → filter → aggregate → sort."""
        df = self._df
        ts = F.col(self.ts_col)
        if self._start is not None:
            df = df.filter(ts >= _time_bound(self._start, self._now))
        if self._end is not None:
            df = df.filter(ts < _time_bound(self._end, self._now))
        if self._hour_sel is not None:
            df = df.filter(self._hour_pred(ts, *self._hour_sel))
        for band in self._bands:
            df = df.filter(band.column())
        if self._agg is not None:
            every, fn, create_empty = self._agg
            by = [c for c in self.series_cols if c in df.columns]
            df = aggregate_window(
                df, every, fn, by=by, ts_col=self.ts_col,
                value_col=self.value_col,
                create_empty=create_empty,
                bounds=self._resolved_bounds() if create_empty else None,
            )
        run_series = list(self.series_cols)
        for name, params in self._transforms:
            if name == "group":
                # post-aggregate group(): re-key (or ungroup) the series
                # grouping for every stage that follows — pure plan
                # metadata, no job of its own
                run_series = list(params.get("columns") or [])
                continue
            df = self._apply_transform(df, name, params, run_series)
            if name == "window":
                # window() re-keys every later stage per (series, window)
                run_series = run_series + ["window_start"]
        for fld, desc in self._sorts:
            df = df.orderBy(F.col(fld).desc() if desc else F.col(fld).asc())
        if self._projection:
            df = df.select(*self._projection)
        if getattr(self, "_limit", None) is not None:
            offset = getattr(self, "_offset", 0)
            if offset:
                df = df.offset(offset)
            df = df.limit(self._limit)
        return df

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
        for band in self._bands:
            terms = []
            for i, p in enumerate(band.predicates):
                op = {"==": "==", "!=": "!=", ">": ">", ">=": ">=",
                      "<": "<", "<=": "<=", "=~": "=~", "in": "in"}[p.op]
                term = f'r["{p.field}"] {op} {p.value!r}'
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
            parts.append(f"limit(n: {self._limit})")
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
