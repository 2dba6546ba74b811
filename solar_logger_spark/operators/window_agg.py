"""Tumbling-window aggregation — the engine's ``aggregateWindow``.

The reference declares ``|> aggregateWindow(every: <dur>, fn: <agg>)``
(reference: ``src/classes/query_classes.py:127-137``) and lets InfluxDB
execute it: tumbling event-time windows of width ``every``, one aggregate
per (window, series) where a series is (measurement, field). Flux labels
each output row with the window *stop* time.

Spark-first realization: ``groupBy(window(ts, every), *keys)`` — a single
hash aggregation with map-side partial combine, whole-stage codegen, and
one shuffle on (window, keys). At 100 TB this is the plan you want: the
partial agg collapses each input partition to ~|windows × keys| rows
before the exchange, so shuffle volume is bounded by output cardinality,
not input rows.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Column, DataFrame, functions as F

from solar_logger_spark.durations import (
    duration_to_spark_window,
    epoch_seconds,
    parse_duration,
)
from solar_logger_spark.operators.litfast import ident_s


def _power_sums(v: str):
    """Exact integer power sums for the moment aggregates: the value
    quantizes to 2 decimals (the data's own precision — the same
    ``decimal(12,2)`` hop the momentum transforms use), scales to an
    integer, and the Σxⁱ accumulate as exact decimals (DuckDB mirrors
    with HUGEINT), so BOTH engines derive skew/kurtosis from identical
    integers and only the final mirrored float expression is IEEE.
    skew/kurtosis are scale-invariant, so the ×100 never cancels out
    wrong. SQL text; the ``D`` suffix keeps each constant a double."""
    xi = f"CAST(CAST((CAST({v} AS DECIMAL(12,2)) * 100) AS BIGINT) AS DECIMAL(19,0))"
    x2 = f"({xi} * {xi})"  # decimal(38,0) — scale 0, values tiny: exact

    def total(e: str) -> str:
        return f"CAST(sum({e}) AS DOUBLE)"

    n = f"CAST(count({xi}) AS DOUBLE)"
    s1, s2 = total(xi), total(x2)
    s3, s4 = total(f"({x2} * {xi})"), total(f"({x2} * {x2})")
    m1 = f"({s1} / {n})"
    m2 = f"(({s2} / {n}) - ({m1} * {m1}))"
    return n, s2, s3, s4, m1, m2


def _skew_sql(v: str) -> str:
    """Population skewness m₃/m₂^(3/2) from exact power sums; null on
    a zero-variance group. Documented divergence from Flux's estimator
    (same trade as the quantile stage: exact + cross-engine
    hash-checkable beats replicating a streaming approximation)."""
    n, s2, s3, _, m1, m2 = _power_sums(v)
    m3 = (
        f"((({s3} / {n}) - ((3.0D * {m1}) * ({s2} / {n})))"
        f" + (((2.0D * {m1}) * {m1}) * {m1}))"
    )
    return f"CASE WHEN ({m2} > 0) THEN ({m3} / ({m2} * sqrt({m2}))) END"


def _kurtosis_sql(v: str) -> str:
    """Population EXCESS kurtosis m₄/m₂² − 3 from exact power sums;
    null on a zero-variance group."""
    n, s2, s3, s4, m1, m2 = _power_sums(v)
    m4 = (
        f"(((({s4} / {n}) - ((4.0D * {m1}) * ({s3} / {n})))"
        f" + (((6.0D * {m1}) * {m1}) * ({s2} / {n})))"
        f" - ((((3.0D * {m1}) * {m1}) * {m1}) * {m1}))"
    )
    return f"CASE WHEN ({m2} > 0) THEN (({m4} / ({m2} * {m2})) - 3.0D) END"


# Flux's standard aggregate set (README of the reference names min/max;
# `fn` is free-form, reference src/classes/query_classes.py:134-137),
# each declared once as SQL text over ``{v}`` (value) and ``{t}``
# (time). first/last are time-ordered in Flux, hence min_by/max_by on
# the event time — still a single-pass hash aggregate, no sort needed.
AGG_FNS: dict[str, str] = {
    "mean": "avg({v})",
    "median": "median({v})",
    "min": "min({v})",
    "max": "max({v})",
    "sum": "sum({v})",
    "count": "count({v})",
    "stddev": "stddev_samp({v})",
    "first": "min_by({v}, {t})",
    "last": "max_by({v}, {t})",
    "spread": "(max({v}) - min({v}))",  # Flux spread(): max - min
    # r11 Flux-stdlib tail. mode: most frequent value, ties to the
    # LOWEST (deterministic), defined even when nothing repeats —
    # documented divergence from Flux's null-on-no-repeat. skew /
    # kurtosis: population formulas from exact integer power sums
    # (documented divergence from Flux's estimators).
    "mode": "mode({v}, true)",
    "skew": _skew_sql("{v}"),
    "kurtosis": _kurtosis_sql("{v}"),
}


def agg_sql(fn: str, value_col: str, ts_col: str) -> str:
    """A Flux aggregate-function name as SQL text over the (quoted)
    value and time columns."""
    try:
        text = AGG_FNS[fn]
    except KeyError:
        raise ValueError(
            f"unknown aggregate fn {fn!r}; supported: {sorted(AGG_FNS)}"
        ) from None
    return text.format(v=ident_s(value_col), t=ident_s(ts_col))


def agg_expr(fn: str, value_col: str, ts_col: str) -> Column:
    """A Flux aggregate-function name as a Spark Column: its
    :data:`AGG_FNS` text, parsed JVM-side in one round trip."""
    return F.expr(agg_sql(fn, value_col, ts_col))


def aggregate_window(
    df: DataFrame,
    every: str,
    fn: str,
    by: Sequence[str] = (),
    ts_col: str = "ts",
    value_col: str = "value",
    alias: str = "value",
    label: str = "stop",
    slide: str | None = None,
    create_empty: bool = False,
    bounds: tuple[datetime, datetime] | None = None,
    offset: str | None = None,
) -> DataFrame:
    """Tumbling (or hopping) window aggregate.

    Parameters mirror Flux ``aggregateWindow``: ``every`` is a Flux
    duration (``"1h"``), ``fn`` one of :data:`AGG_FNS`. ``by`` are the
    series key columns. ``label`` picks the output timestamp: ``"stop"``
    (Flux default — window end), ``"start"``, or ``"both"`` (emit
    ``window_start`` and ``window_end`` columns, no ``ts``).

    ``slide`` (a Flux duration < ``every``) makes the windows hopping —
    Flux ``window(every: slide, period: every)``: each row lands in
    ``every/slide`` overlapping windows. Spark's ``window()`` expands
    that fan-out JVM-side before the same single hash aggregation.

    ``create_empty`` (Flux ``createEmpty``, default true THERE, false
    here to keep the cheap path the default) also emits windows with no
    input rows: null aggregate (0 for ``count``, Flux's convention), one
    row per (window, series-key combination). ``bounds`` pins the
    emitted window range to ``[start, stop)`` — what Flux's preceding
    ``range()`` does; without it the spine spans the data's own
    [min(ts), max(ts)]. Not combinable with ``slide``.

    Windows are epoch-aligned (Spark ``window()`` semantics), matching
    DuckDB ``time_bucket`` for the oracle comparison.

    Scale: the fill path adds one distinct over the series keys and a
    broadcast of the window spine — both bounded by *output*
    cardinality, never input rows; the base aggregation is unchanged.
    """
    if fn == "integral":
        if slide is not None or create_empty:
            raise ValueError("integral supports neither slide nor create_empty")
        return integral_window(
            df, every, by=by, ts_col=ts_col, value_col=value_col,
            alias=alias, label=label,
        )
    if fn not in AGG_FNS:
        raise ValueError(
            f"unknown aggregate fn {fn!r}; supported: "
            f"{sorted(AGG_FNS) + ['integral']}"
        )
    width = duration_to_spark_window(every)
    start = None
    if offset:
        # offsets may be negative ("-2h" pulls alignment back), so not
        # duration_to_spark_window (which requires positive widths)
        odur = parse_duration(offset)
        if odur.months or odur.seconds != int(odur.seconds):
            raise ValueError(f"offset must be a whole-second duration: {offset!r}")
        start = f"{int(odur.seconds)} seconds"
    if slide is not None:
        if create_empty:
            raise ValueError("create_empty is not supported with slide")
        win = F.window(
            F.col(ts_col), width, duration_to_spark_window(slide), start
        )
    elif start is not None:
        # Flux aggregateWindow(offset:): shift bucket alignment — Spark
        # window()'s startTime is exactly that offset
        if create_empty:
            raise ValueError("create_empty is not supported with offset")
        win = F.window(F.col(ts_col), width, width, start)
    else:
        win = F.window(F.col(ts_col), width)
    grouped = df.groupBy(win.alias("window"), *[F.col(c) for c in by])
    out = grouped.agg(agg_expr(fn, value_col, ts_col).alias(alias))

    if create_empty:
        out = _fill_empty_windows(
            df, out, every, by, ts_col, value_col, alias, fn, bounds
        )

    if label == "stop":
        return out.select(
            F.col("window.end").alias(ts_col), *by, alias
        )
    if label == "start":
        return out.select(
            F.col("window.start").alias(ts_col), *by, alias
        )
    if label == "both":
        return out.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *by,
            alias,
        )
    raise ValueError(f"label must be start|stop|both, got {label!r}")


def _fill_empty_windows(
    df: DataFrame,
    out: DataFrame,
    every: str,
    by: Sequence[str],
    ts_col: str,
    value_col: str,
    alias: str,
    fn: str,
    bounds: tuple[datetime, datetime] | None,
) -> DataFrame:
    """Left-join the aggregated windows onto a (series-keys × window
    spine) grid. The spine is generated JVM-side with ``sequence()`` —
    one array per key row, no data shuffle beyond the keys' distinct."""
    dur = parse_duration(every)
    if dur.months or dur.seconds <= 0 or dur.seconds != int(dur.seconds):
        raise ValueError(
            f"create_empty needs a positive whole-second width: {every!r}"
        )
    sec = int(dur.seconds)
    step = F.expr(f"INTERVAL '{sec}' SECOND")

    keys = (
        df.select(*by).distinct()
        if by
        else df.sparkSession.range(1).select()
    )
    if bounds is not None:
        start, stop = bounds
        lo = int(start.timestamp()) // sec * sec
        hi = (int(stop.timestamp()) - 1) // sec * sec
        if hi < lo:
            raise ValueError(f"empty bounds range: {bounds!r}")
        grid = keys.select(
            *by,
            F.explode(
                F.sequence(
                    F.timestamp_seconds(F.lit(lo)),
                    F.timestamp_seconds(F.lit(hi)),
                    step,
                )
            ).alias("_wstart"),
        )
    else:
        # data-derived extent: one tiny aggregate row broadcast onto the
        # key set (constant cost at any scale)
        ext = df.agg(
            F.timestamp_seconds(
                F.floor(F.min(F.unix_timestamp(F.col(ts_col))) / sec) * sec
            ).alias("_lo"),
            F.timestamp_seconds(
                F.floor(F.max(F.unix_timestamp(F.col(ts_col))) / sec) * sec
            ).alias("_hi"),
        )
        grid = keys.crossJoin(F.broadcast(ext)).select(
            *by,
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"), step)).alias(
                "_wstart"
            ),
        )

    agg_flat = out.select(F.col("window.start").alias("_wstart"), *by, alias)
    filled = grid.join(agg_flat, on=["_wstart", *by], how="left")
    value = F.col(alias)
    if fn == "count":
        value = F.coalesce(value, F.lit(0)).cast("long")  # Flux: count()=0
    return filled.select(
        F.struct(
            F.col("_wstart").alias("start"),
            (F.col("_wstart") + step).alias("end"),
        ).alias("window"),
        *by,
        value.alias(alias),
    )


def integral_window(
    df: DataFrame,
    every: str,
    by: Sequence[str] = (),
    ts_col: str = "ts",
    value_col: str = "value",
    alias: str = "value",
    label: str = "stop",
    unit_seconds: float = 1.0,
) -> DataFrame:
    """Flux ``aggregateWindow(fn: integral)``: per window and series,
    the trapezoidal area under consecutive points *within* the window,
    in value·``unit`` (Flux ``integral(unit:)``, default 1s). Windows
    with fewer than two points yield 0.0 (no segment to integrate).

    Plan shape: one analytic ``lag`` over (series, window) ordered by
    time, then a hash aggregation on the same keys — Catalyst reuses the
    window's exchange for the groupBy (one shuffle total), so this costs
    the same as any other windowed aggregate plus the in-partition sort
    the trapezoid inherently needs.
    """
    from pyspark.sql import Window as W

    width = duration_to_spark_window(every)
    win = F.window(F.col(ts_col), width)
    keyed = df.select(
        *by, F.col(ts_col), F.col(value_col).alias("_v"), win.alias("window")
    )
    # value as tiebreak: equal timestamps otherwise pair with lag()
    # nondeterministically, changing which trapezoids get drawn
    spec = W.partitionBy(*by, "window").orderBy(F.col(ts_col), F.col("_v"))
    seg = keyed.select(
        *by,
        "window",
        (
            (F.col("_v") + F.lag("_v").over(spec)) / 2.0
            * (
                epoch_seconds(ts_col)
                - F.lag(epoch_seconds(ts_col)).over(spec)
            )
            / F.lit(float(unit_seconds))
        ).alias("_area"),
    )
    out = seg.groupBy(*by, "window").agg(
        F.coalesce(F.sum("_area"), F.lit(0.0)).alias(alias)
    )
    if label == "stop":
        return out.select(F.col("window.end").alias(ts_col), *by, alias)
    if label == "start":
        return out.select(F.col("window.start").alias(ts_col), *by, alias)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *by,
        alias,
    )
