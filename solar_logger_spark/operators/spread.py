"""Input-spread helper for CPU-heavy map stages over narrow scans.

The bench fixtures (and any small reference table) are single-file,
single-row-group parquet: Spark cannot split them, so every scan yields
ONE partition. ``io.tables`` reads such a table as ``coalesce(1)`` of
its scan, so a one-split read is one partition end to end: the plan
declares ``SinglePartition``, the aggregates, sorts, windows and joins
above it plan no Exchange, and the whole query runs as one stage in one
task. That is the right shape for a small query, whose cost is
scheduling, not compute.

``spread_small`` is how a CPU-heavy consumer of such a read
(normalization folds, codebook distance chains, Arrow kernels) asks
for width instead (guide §2.5 "input skew: one huge unsplittable file
... repartition immediately after the read"). It repartitions only
when the input's partitioning is NARROWER than the session's
parallelism; at 100 TB the corpus scan already carries thousands of
splits, ``io.tables`` leaves it uncoalesced, and the helper is a no-op
that pays no extra exchange. Results are unaffected by construction:
every caller's arithmetic is either per-row (map) or pinned to an
explicit order (hash/window/fold), never partition-order-sensitive.
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
