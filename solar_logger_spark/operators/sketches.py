"""Mergeable sketches — approximate distinct counts and quantiles that
scale by composition.

At 100 TB you do not recount distinct users per ad-hoc time range; you
maintain per-partition (per-day, per-measurement) **sketch columns** and
merge them at query time. Spark 4 ships Apache DataSketches HLL as
first-class expressions (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``), which makes the pattern declarative:

* build: one pass, per-group binary sketch columns (map-side combinable
  aggregation, shuffle bounded by group count);
* store: sketches are just BINARY columns in parquet next to the rollup;
* query: union the sketches of any group subset — never rescan rows.

HLL register-merge is idempotent and order-independent (per-register
max), so a union of per-day sketches is byte-equivalent to sketching the
whole range directly — pinned by test. Estimates carry the usual HLL
error (~1.6% at lgConfigK=12 default).

Grouped quantiles call ``percentile_approx`` directly (the
``sketch_quantiles_events`` query); they need no wrapper here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def distinct_sketches(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """One HLL sketch (BINARY) per group over ``value_col`` — the
    buildable/storable unit. Columns: ``(*group_cols, sketch)``."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_config_k)).alias("sketch")
    )


def estimate(sketch_col: Column | str = "sketch") -> Column:
    """Distinct-count estimate of a sketch column."""
    col = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    return F.hll_sketch_estimate(col)


def union_estimate(
    sketches: DataFrame,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
    alias: str = "approx_distinct",
) -> DataFrame:
    """Merge sketches (optionally re-grouped coarser) and estimate:
    the query-time half of the pattern — no raw-data rescan."""
    merged = sketches.groupBy(*group_cols).agg(
        F.hll_union_agg(F.col(sketch_col)).alias("_merged")
    )
    return merged.select(
        *group_cols,
        F.hll_sketch_estimate(F.col("_merged")).cast("long").alias(alias),
    )


# ---------------------------------------------------------------------------
# count-min sketch as rows: mergeable frequency tables + point estimates
# ---------------------------------------------------------------------------

def cms_table(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Count-min sketch per group, materialized as ROWS
    ``(*group_cols, row, bucket, cnt)`` — ``depth`` hash rows of
    ``width`` buckets (Cormode & Muthukrishnan 2005 — public).

    Row form beats a binary blob on Spark: building is one
    ``explode(depth)`` + hash aggregate (map-side combinable, shuffle
    bounded by groups × depth × min(width, distinct keys), never input
    rows); MERGING sketches — across days, partitions, or tables — is a
    plain ``groupBy(row, bucket).sum(cnt)``, and both halves stay in
    whole-stage codegen. Point estimates are a join + min (below).

    Hashes are ``xxhash64(value, row_seed) mod width`` — deterministic,
    so sketches built anywhere merge consistently."""
    rows = F.array(*[F.lit(j) for j in range(depth)])
    exploded = df.select(
        *group_cols,
        F.explode(rows).alias("row"),
        F.col(value_col).alias("_v"),
    ).select(
        *group_cols,
        "row",
        F.pmod(F.xxhash64(F.col("_v"), F.col("row")), F.lit(width)).alias(
            "bucket"
        ),
    )
    return exploded.groupBy(*group_cols, "row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_merge(
    sketches: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Merge CMS tables (e.g. re-group per-day sketches to global):
    bucket-wise sums — the mergeability that makes the sketch a
    store-don't-rescan artifact."""
    return sketches.groupBy(*group_cols, "row", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    width: int = 8192,
    alias: str = "est_count",
) -> DataFrame:
    """Point-estimate the frequency of each key in ``keys``: look up the
    key's bucket in each of the ``depth`` rows and take the minimum
    (over-count only — CMS never under-counts; error ≤ e/width · N with
    prob 1−e^−depth). The keys side is exploded ``depth`` ways and the
    lookup is an equi-join the small side of which broadcasts."""
    rows = F.array(*[F.lit(j) for j in range(depth)])
    probes = keys.select(
        *group_cols,
        F.col(key_col),
        F.explode(rows).alias("row"),
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col(key_col), F.col("row")), F.lit(width)),
    )
    joined = probes.join(sketch, [*group_cols, "row", "bucket"], "left")
    return joined.groupBy(*group_cols, key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(alias)
    )


# -- Bloom filter (row-form, engine-reproducible) -----------------------------

# bloom_prefilter collapses the bit rows to a dense in-expression
# bitmask when m is at or below this (mask bytes = m/8; 1<<22 -> 512 KB
# in the task binary). Larger filters keep the broadcast-join probe,
# whose size follows the SET bit count rather than m.
_BLOOM_MASK_MAX_M = 1 << 22


def _bloom_positions(
    key: Column, m: int, k: int, scheme: str = "md5"
) -> Column:
    """Array of the ``k`` bit positions for a key.

    ``scheme="md5"`` (default): md5-derived 60-bit integers mod ``m`` —
    deterministic AND engine-reproducible (unlike xxhash64, DuckDB
    computes identical md5 bytes), so a filter built by any engine
    tests identically in any other. Required whenever bit positions or
    membership verdicts are EXPOSED in query output (bloom_bits rows,
    bloom_might_contain — their oracles replay this exact scheme).

    ``scheme="xxh64"`` (r12): ``pmod(xxhash64(key, seed_s), m)`` —
    pure integer ops, measured ~5x cheaper per probe row than the
    string-heavy cast→concat→md5→substring→conv chain (the base-16
    ``conv`` alone is ~2/3 of it). Deterministic within Spark but NOT
    cross-engine; use only where the filter is output-invisible — the
    build/probe pair of a prefilter whose false positives an exact
    join removes (join_bloom_prefilter_lineitem's oracle is the plain
    join, independent of the scheme)."""
    if scheme == "xxh64":
        return F.array(
            *[
                F.pmod(F.xxhash64(key, F.lit(s)), F.lit(m))
                for s in range(k)
            ]
        )
    if scheme != "md5":
        raise ValueError(f"unknown bloom position scheme: {scheme!r}")
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(key.cast("string"), F.lit(f":{s}"))),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint") % F.lit(m)
            for s in range(k)
        ]
    )


def bloom_bits(
    df: DataFrame,
    key_col: str,
    m: int = 8192,
    k: int = 3,
    scheme: str = "md5",
) -> DataFrame:
    """Bloom filter over ``df[key_col]`` (Bloom 1970 — public),
    materialized as ROWS of distinct set bits ``(bit,)`` — the same
    row-form trade as ``cms_table``: building is explode + distinct
    (map-side combinable; shuffle bounded by min(m, k·distinct keys),
    never input rows), MERGING filters is a plain union-distinct, and
    the whole filter is at most ``m`` rows — always broadcastable at
    probe time no matter how many keys went in. ``scheme`` must match
    between build and probe — see :func:`_bloom_positions` for when
    the cheap ``"xxh64"`` scheme is admissible."""
    return (
        df.select(
            F.explode(
                _bloom_positions(F.col(key_col), m, k, scheme)
            ).alias("bit")
        )
        .distinct()
    )


def bloom_might_contain(
    probe: DataFrame,
    bits: DataFrame,
    key_col: str,
    m: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Membership REPORT against a row-form Bloom filter: appends
    ``might_contain`` to ``probe`` — true iff all ``k`` positions of
    the key are set. No false negatives ever; false-positive rate
    ~(1 - e^(-k·n/m))^k. The bits side broadcasts (<= m rows by
    construction), but the per-key verdict is an aggregate over the
    DISTINCT probe keys, so the probe key set is shuffled once — this
    is the audit/report shape. When you only need to PRUNE a fact
    table before a join, use :func:`bloom_prefilter` (below), which
    stays map-only.

    Robust to the messy-probe realities: the hit count is computed
    over DISTINCT probe keys (duplicate probe rows would otherwise
    inflate the per-key matched-row count past k — a silent false
    negative), the bits side is de-duplicated for the same reason
    (filters merged with a plain union instead of union-distinct),
    and NULL probe keys come back with ``might_contain = false``
    instead of being dropped by the join."""
    pos = probe.select(key_col).distinct().select(
        F.col(key_col),
        F.explode(_bloom_positions(F.col(key_col), m, k)).alias("bit"),
    )
    hits = (
        pos.join(
            F.broadcast(
                bits.select("bit").distinct().withColumn("_set", F.lit(1))
            ),
            "bit",
            "left",
        )
        .groupBy(F.col(key_col).alias("_bloom_key"))
        .agg((F.count("_set") == F.lit(k)).alias("might_contain"))
    )
    # the hits key is renamed: hits derives from probe, so joining on
    # probe[key_col] == hits[key_col] would name one attribute twice
    # (a trivially true condition that only Spark's self-join rewrite
    # turns back into a key join)
    return probe.join(
        hits, probe[key_col].eqNullSafe(F.col("_bloom_key")), "left"
    ).select(
        *probe.columns,
        F.coalesce(F.col("might_contain"), F.lit(False))
        .alias("might_contain"),
    )


def bloom_prefilter(
    df: DataFrame,
    bits: DataFrame,
    key_col: str,
    m: int = 8192,
    k: int = 3,
    scheme: str = "md5",
) -> DataFrame:
    """MAP-ONLY Bloom pre-filter: keep the rows of ``df`` whose key
    might be in the filter — the runtime-filter shape for protecting a
    shuffle join. Implemented as ``k`` successive BROADCAST hash
    joins on the per-row position columns (the <= m-row bits side is
    always broadcastable), so ``df`` itself is never exchanged: the
    whole pre-filter runs inside the fact scan's stage, which is the
    entire point at 100 TB. Rows with NULL keys are dropped (NULL
    cannot match an equi-join afterwards anyway).

    Contrast :func:`bloom_might_contain`, which REPORTS membership per
    key (an aggregate over distinct probe keys — it shuffles the key
    set and keeps non-members); this one only prunes, and prunes
    cheaply.

    For small/medium ``m`` (<= ``_BLOOM_MASK_MAX_M``) the filter is
    collapsed to a DENSE BITMASK LITERAL — one bounded collect of the
    <= m bit rows (the filter must fit in driver memory in ANY design,
    guide §3.2), packed into ceil(m/64) longs and tested with a pure
    map-side expression. That removes every join and broadcast from
    the probe: the old form built ``k`` separate broadcast relations
    (one per position column — not exchange-reused, their output names
    differ) and probed ``k`` hash tables per row; the mask form ships
    m/8 bytes inside the task binary and costs 3 shifts per position,
    keeping the whole prefilter inside the scan's codegen stage. Rows
    with NULL keys are dropped either way (NULL positions fail the
    test, as they failed the equi-join). Above the cap the join form
    is kept: a dense mask scales with m, the row form with the
    (possibly much smaller) set-bit count.

    ``scheme`` must match the ``bloom_bits`` build; pass ``"xxh64"``
    when the filter is output-invisible (false positives removed by an
    exact join downstream) — see :func:`_bloom_positions`."""
    clash = ({f"_bp{s}" for s in range(k)} | {"_bpmask"}) & set(
        df.columns
    )
    if clash:
        raise ValueError(
            "bloom_prefilter: input already carries reserved helper "
            f"column(s) {sorted(clash)}; rename them before filtering"
        )
    b = bits.select("bit").distinct()
    pos = _bloom_positions(F.col(key_col), m, k, scheme)
    if m <= _BLOOM_MASK_MAX_M:
        words = [0] * ((m + 63) // 64)
        for r in b.collect():  # bounded: <= m rows by construction
            bit = r[0]
            if bit is not None and 0 <= bit < m:
                words[bit >> 6] |= 1 << (bit & 63)
        # two's-complement: Spark longs are signed
        words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        mask = F.expr(
            "array(" + ",".join(f"{w}L" for w in words) + ")"
        )
        out = df.select(
            *df.columns,
            *[pos[s].alias(f"_bp{s}") for s in range(k)],
            mask.alias("_bpmask"),
        )
        probe = " AND ".join(
            f"((shiftright(element_at(_bpmask, "
            f"CAST(shiftright(_bp{s}, 6) AS INT) + 1), "
            f"CAST(_bp{s} % 64 AS INT)) & 1) = 1)"
            for s in range(k)
        )
        return out.filter(F.expr(probe)).drop(
            "_bpmask", *[f"_bp{s}" for s in range(k)]
        )
    out = df.select(
        *df.columns, *[pos[s].alias(f"_bp{s}") for s in range(k)]
    )
    for s in range(k):
        out = out.join(
            F.broadcast(b.select(F.col("bit").alias(f"_bp{s}"))),
            f"_bp{s}",
        )
    return out.drop(*[f"_bp{s}" for s in range(k)])
