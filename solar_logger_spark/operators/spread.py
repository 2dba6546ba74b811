"""Input-spread helper for CPU-heavy map stages over narrow scans.

The bench fixtures (and any small reference table) are single-file,
single-row-group parquet: Spark cannot split them, so every scan yields
ONE partition and everything map-side downstream — normalization folds,
codebook distance chains, Arrow kernels — runs in one task no matter
how many cores the session has (guide §2.5 "input skew: one huge
unsplittable file ... repartition immediately after the read").

``spread_small`` repartitions only when the input's partitioning is
NARROWER than the session's parallelism. At 100 TB the corpus scan
already carries thousands of splits and the helper is a no-op — it
never coalesces, so the scale path keeps its native parallelism and
pays no extra exchange. Results are unaffected by construction: every
caller's arithmetic is either per-row (map) or pinned to an explicit
order (hash/window/fold), never partition-order-sensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin ``df`` across ``min_parts`` (default: the session's
    ``defaultParallelism``) partitions iff it currently has fewer.
    Raises ``ValueError`` when ``min_parts`` is below 1."""
    if min_parts is not None and min_parts < 1:
        raise ValueError(f"min_parts must be >= 1, got {min_parts}")
    sc = df.sparkSession.sparkContext
    target = int(min_parts) if min_parts is not None else sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirk: spread anyway
        return df.repartition(target)
    if n >= target:
        return df
    return df.repartition(target)
