"""One-py4j-round-trip double-array literals.

``F.array(*[F.lit(x) for x in row])`` costs one py4j round trip per
element; the codebook/centroid/plane literals in the deterministic
ANN trainers reach 1–2k elements and were profiled at 2–7 ms PER
round trip under session GC pressure — 14 s of a 38 s
``topk_ivfpq_deterministic`` DataFrame build was ``F.lit`` calls
alone. Rendering the same nested array as ONE Spark SQL expression
string (``array(array(0.25D, ...), ...)``) moves construction to a
single round trip parsed JVM-side (measured 6 ms for 1024 elements,
~200x faster).

Bit-exactness: ``repr(float)`` emits the shortest decimal that
round-trips under IEEE-754 double semantics, and Catalyst parses a
D-suffixed literal with ``Double.parseDouble``, which is correctly
rounded — so the parsed literal carries the identical 64 bits as
``F.lit(x)`` for every FINITE double (verified including -0.0 and
subnormals). Non-finite values and empty arrays (whose SQL literal
would type as array<void>) fall back to the per-element builder.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


class _Fallback(Exception):
    pass


def _render(vals) -> str:
    if isinstance(vals, (list, tuple)):
        if not vals:
            raise _Fallback  # array() types as array<void>
        return "array(" + ",".join(_render(v) for v in vals) + ")"
    x = float(vals)
    if x != x or x in (float("inf"), float("-inf")):
        raise _Fallback
    return repr(x) + "D"


def _slow(vals) -> Column:
    if isinstance(vals, (list, tuple)):
        return F.array(*[_slow(v) for v in vals])
    return F.lit(float(vals))


def dlit(vals) -> Column:
    """A double / arbitrarily-nested double-array literal Column,
    value-identical (bit-for-bit) to the per-element
    ``F.array``/``F.lit`` construction, built in one py4j round
    trip."""
    try:
        sql = _render(vals)
    except _Fallback:
        return _slow(vals)
    return F.expr(sql)


def dlit_s(vals) -> str:
    """The SQL-text form of :func:`dlit`, for embedding inside a
    larger expression string (one parse for the WHOLE tree instead of
    one py4j trip per node). Raises ``ValueError`` on the non-finite /
    empty shapes the Column form would silently fall back on — callers
    composing text must handle those explicitly."""
    try:
        return _render(vals)
    except _Fallback as exc:
        raise ValueError(
            "dlit_s: non-finite value or empty array has no single-"
            "expression SQL literal — use dlit()'s Column fallback"
        ) from exc


# -- SQL-text builders of the pinned folds -----------------------------------
# These are the only builders of the cosine / dot / L2 folds: each
# renders its expression (left-to-right association, double literals,
# a ``0.0D`` seed) as a Python string, so composing a whole
# scoring/assignment tree costs ONE ``F.expr`` round trip instead of
# one per node. Lambda variables use a leading-underscore namespace no
# engine frame ever declares, so they can never shadow a real column
# referenced inside the body. (Profiled: per-node Column builders cost
# 1-3 ms of py4j latency PER round trip on a loaded host — a 3k-node
# ANN build was pure driver stall.)

def cd_s(a: str) -> str:
    """``transform(a, x -> CAST(x AS DOUBLE))`` — an array's elements
    as doubles, the input every fold below takes."""
    return f"transform({a}, _cd -> CAST(_cd AS DOUBLE))"


def fold_sum_s(arr: str) -> str:
    """Left-to-right fold sum of a double array (the pinned association
    DuckDB's list_sum shares)."""
    return f"aggregate({arr}, 0.0D, (_ac, _fx) -> _ac + _fx)"


def dot_s(a: str, b: str) -> str:
    """Σ a_i*b_i over already-double arrays, left-to-right."""
    return fold_sum_s(f"zip_with({a}, {b}, (_zx, _zy) -> _zx * _zy)")


def cosd_s(a: str, b: str) -> str:
    """Cosine over already-double arrays: dot / (sqrt(dot)·sqrt(dot)),
    each fold left-to-right."""
    return (
        f"({dot_s(a, b)} / "
        f"(SQRT({dot_s(a, a)}) * SQRT({dot_s(b, b)})))"
    )


def d2_s(a: str, b: str) -> str:
    """Squared L2 between two double arrays, accumulated in dimension
    order — cross-engine bit-reproducible."""
    return fold_sum_s(
        f"zip_with({a}, {b}, (_zx, _zy) -> (_zx - _zy) * (_zx - _zy))"
    )
