"""Deduplication operators for large-scale training-data pipelines.

Four families, each a different cost/recall point at 100 TB:

* **exact** — hash groupBy on the dedup key; one shuffle, map-side
  partial agg. The baseline.
* **n-gram Jaccard** — exact set-similarity via shingle inverted index
  (explode → self-join on shingle → pair counting). Quadratic in the
  worst case; the ``max_shingle_df`` stop-shingle filter bounds the
  blow-up (a shingle appearing in d docs generates d² pairs — drop the
  head of that distribution, exactly like stop-words in IR).
* **MinHash + LSH** — sub-quadratic candidate generation: per-shingle
  xxhash64 under ``num_hashes`` seeds → per-doc min per seed (one hash
  aggregate) → band buckets → pairs within buckets → **exact Jaccard
  verification** of candidates only. At 100 TB this is the only family
  that scales to all-pairs near-dup detection; verification keeps
  output semantics exact (no LSH false positives).
* **SimHash** — 60-bit fingerprints from md5-derived token hashes
  (md5 so an external SQL engine reproduces them bit-for-bit; see the
  DuckDB oracle). Hamming-close fingerprints ≈ similar token multisets;
  constant output size per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def tokens(text_col: str | Column = "text") -> Column:
    """Whitespace tokenization (documents are space-separated words)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(col, " ")


def shingle_array(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array column — built with JVM
    higher-order functions (transform over an index sequence), no UDF."""
    toks = tokens(text_col)
    # index i in 0..(num_tokens-n): shingle = tokens[i..i+n-1] joined
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) < n, F.array()).otherwise(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )
    )


def exploded_shingles(
    df: DataFrame,
    keep: list,
    text_col: str = "text",
    n: int = 3,
    pos_col: str | None = None,
    out_col: str = "shingle",
) -> DataFrame:
    """One row per (kept columns, shingle position). The shingle
    string is built AFTER the index explode, so the per-gram concat
    (and any downstream hash) evaluates inside whole-stage codegen.
    Building the array first with ``shingle_array``'s transform() ran
    the same expressions as INTERPRETED higher-order-function lambdas
    — outside codegen, measured ~5× slower on the winnowing operator
    at sf0.1 for identical output — so every explode-immediately
    consumer routes through here. Documents shorter than ``n`` tokens
    emit nothing (same as ``shingle_array``'s empty array under
    explode). ``pos_col``: also emit the 0-based shingle index."""
    clash = {"_t", "_n", "_i"} & (set(keep) | {out_col, pos_col})
    if clash:
        raise ValueError(
            f"exploded_shingles: column name(s) {sorted(clash)} collide "
            "with reserved helper columns; rename them first"
        )
    emitted = {out_col} | ({pos_col} if pos_col else set())
    dup = set(keep) & emitted
    if dup or (pos_col and pos_col == out_col):
        raise ValueError(
            "exploded_shingles: output column name(s) "
            f"{sorted(dup or {out_col})} collide with kept/other output "
            "columns; the result would carry duplicate-named columns"
        )
    # Rendered as SQL text (litfast posture): this helper fronts ~10
    # gram-family queries and its per-node Column build was 0.8-1.5 s
    # of driver time per call. Same expressions, one parse per select.
    gram = (
        "concat_ws(' ', "
        + ", ".join(f"element_at(_t, _i + {j + 1})" for j in range(n))
        + ")"
    )
    out = list(keep) + (
        [f"CAST(_i AS INT) AS {pos_col}"] if pos_col else []
    )
    return (
        df.selectExpr(
            *keep,
            f"split({text_col}, ' ') AS _t",
            f"size(split({text_col}, ' ')) - {n - 1} AS _n",
        )
        .filter(F.col("_n") > 0)
        .selectExpr(*keep, "_t", "explode(sequence(0, _n - 1)) AS _i")
        .selectExpr(*out, f"{gram} AS {out_col}")
    )


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Long-format distinct (doc, shingle) pairs — the inverted-index
    input. Distinct-per-doc because Jaccard is over shingle *sets*."""
    return exploded_shingles(df, [id_col], text_col, n).distinct()


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup: one survivor (min id — deterministic) per distinct
    key, with the duplicate count. Single hash-agg shuffle on the key."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold (exact).

    Plan: inverted index (shingle → docs) self-joined per shingle to
    count intersections, then joined to per-doc set sizes;
    jaccard = |A∩B| / (|A| + |B| - |A∩B|) computed from exact ints.
    ``max_shingle_df`` drops shingles shared by more than that many docs
    before pairing (the d² pair blow-up guard for web-scale corpora).
    """
    # 64-bit-hash the shingles before the self-join: the inverted index
    # shuffles and compares fixed 8-byte keys instead of n-word strings
    # (collision odds across ~2^20 distinct shingles are ~1e-8 — far
    # below any float tolerance downstream). Spread the docs across
    # cores first — a single-file doc table would serialize the
    # CPU-heavy shingle/hash stage. The trailing repartition on the
    # hashed shingle materializes that stage ONCE into shuffle files
    # that every downstream branch (sizes, a, b) re-reads via
    # ReuseExchange — unlike ``.cache()``, nothing pins executor
    # storage after the query finishes, which matters when the exploded
    # shingle table is several × the corpus size.
    sized = _shingle_pair_counts(df, id_col, text_col, n, max_shingle_df)
    jac = sized.select(
        "a_id",
        "b_id",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


def _shingle_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared inverted-index pair counting: (a_id, b_id, inter, na, nb)
    for every doc pair sharing >= 1 shingle, a_id < b_id. Feeds both
    Jaccard and containment — the set-similarity measures differ only
    in the final arithmetic over these three exact ints."""
    spread = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        doc_shingles(df.repartition(spread), id_col, text_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
        .repartition(spread, "shingle")
    )
    if max_shingle_df is not None:
        from pyspark.sql import Window

        # df as a WINDOW count over the shingle-partitioned frame, not
        # a groupBy+join: the window's ClusteredDistribution is
        # satisfied by the repartition above (no new shuffle), and each
        # downstream consumer (sizes, a, b) re-runs only the cheap
        # count+filter past the reused exchange — a join-shaped filter
        # re-executed the whole corpus explode once per consumer
        # (Catalyst dedupes exchanges, not join subplans; measured
        # +0.9s at sf0.1 for an inert bound).
        wsh = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(wsh))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))

    a = sh.select(F.col(id_col).alias("a_id"), "shingle")
    b = sh.select(F.col(id_col).alias("b_id"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("set_size").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("set_size").alias("nb"))
    return inter.join(sa, "a_id").join(sb, "b_id")


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: pairs where the SMALLER shingle set is
    >= threshold contained in the other — |A∩B| / min(|A|,|B|). Catches
    partial copies (a doc quoting most of another, boilerplate wrappers
    around shared bodies) that symmetric Jaccard dilutes below its
    threshold whenever the sizes differ.

    Same inverted-index plan as ``ngram_jaccard_pairs`` (shared pair
    counting over 8-byte shingle hashes); output adds both directed
    containments so callers can tell which side is the copy:
    (a_id, b_id, containment, c_a_in_b, c_b_in_a).
    """
    sized = _shingle_pair_counts(df, id_col, text_col, n, max_shingle_df)
    c_a = F.col("inter").cast("double") / F.col("na").cast("double")
    c_b = F.col("inter").cast("double") / F.col("nb").cast("double")
    out = sized.select(
        "a_id",
        "b_id",
        F.greatest(c_a, c_b).alias("containment"),
        c_a.alias("c_a_in_b"),
        c_b.alias("c_b_in_a"),
    )
    return out.filter(F.col("containment") >= threshold)


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, 64-bit shingle hash) rows, spread across cores before the
    CPU-heavy shingling and re-exchanged ON THE DOC ID so the downstream
    signature/size/verification consumers all ReuseExchange one
    materialization (see minhash_lsh_pairs docstring).

    The exchange key is ``id_col``, not ``h`` (r12): hash-partitioning
    satisfies any clustering requirement whose keys are a superset of
    the partition key, so with each doc's shingles co-located BOTH
    signature aggregations (min per (id, seed), collect per id) and the
    size count run exchange-free — under ``h`` the (id, seed) partial
    min re-shuffled ~docs x seeds x partitions rows, a measured ~30x
    amplification of the shingle table (sig stage 2.28 s -> 0.96 s at
    sf0.1). The verification joins key on (id) / (id, h) and re-exchange
    or broadcast identically under either parent key. Skew bound:
    a doc's shingle count is bounded by its text length, the same
    per-partition bound the pre-explode doc spread already carries."""
    spread = df.sparkSession.sparkContext.defaultParallelism
    return (
        doc_shingles(df.repartition(spread), id_col, text_col, n)
        .select(F.col(id_col), F.xxhash64("shingle").alias("h"))
        .repartition(spread, id_col)
    )


def _rowwise_signatures(
    sh: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """MinHash signature array per doc from hashed shingles, built
    row-wise (seed dimension exploded, min per (doc, seed), collected
    into one array) instead of num_hashes named aggregates — the
    codegen-compile-time lesson from simhash."""
    return (
        sh.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias(
                "seed"
            ),
            "h",
        )
        .groupBy(id_col, "seed")
        .agg(F.min(F.xxhash64(F.col("h"), F.col("seed"))).alias("mh"))
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                lambda s: s["mh"],
            ).alias("sig")
        )
    )


def _band_bucket_rows(
    sig: DataFrame,
    id_col: str,
    sig_s: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band, bucket) rows: each band of r = num_hashes/bands
    signature slots hashed to one bucket. ``sig_s`` is the signature
    array as SQL text — the whole banded explode is one parsed
    expression (the per-slot Column builders cost ~bands·r py4j round
    trips per build)."""
    rows = num_hashes // bands
    band_structs = ",".join(
        f"named_struct('band', {band}, 'bucket', xxhash64("
        + ", ".join(f"{sig_s}[{band * rows + r}]" for r in range(rows))
        + "))"
        for band in range(bands)
    )
    return sig.selectExpr(
        id_col, f"explode(array({band_structs})) AS bb"
    ).select(id_col, "bb.band", "bb.bucket")


def _banded_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    sig_s: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Shared LSH banding: hash each band of r = num_hashes/bands
    signature slots (taken from the SQL-text array expression
    ``sig_s``) to a bucket; docs sharing any (band, bucket) become
    candidate pairs."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    buckets = _band_bucket_rows(sig, id_col, sig_s, num_hashes, bands)
    a = buckets.select(F.col(id_col).alias("a_id"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("b_id"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """Near-dup pairs at >= threshold: LSH candidates, then exact
    Jaccard verification of candidates only (output has no false
    positives; recall is the LSH collision curve).

    One shingle explode feeds both stages: each (doc, 8-byte shingle
    hash) row contributes to the signature mins (re-hashed per seed
    from the 64-bit hash, not the string) and to the verification
    counts.

    The signature is built row-wise — seed dimension exploded inside
    the same codegen stage, min-aggregated per (doc, seed), collected
    into ONE array column — instead of ``num_hashes`` named ``min()``
    aggregates: a 64-aggregate plan costs seconds of Catalyst/codegen
    compile time per run (same lesson as ``simhash``), while the
    row-wise shape still map-side-combines to the identical shuffle
    volume (docs × seeds per partition).

    Verification counts intersections from the inverted index
    restricted to LSH candidates — three fixed-width equi-joins and a
    count, never shipping per-doc shingle-set arrays through a
    ``collect_set``. Candidates with an empty intersection drop out of
    the count join, which is correct: their Jaccard is 0 < threshold.

    The input is spread across cores before shingling: document tables
    are small on disk (one file → one scan partition) but the per-row
    shingle/hash work is CPU-heavy, so inheriting the file layout would
    serialize the whole pipeline's hottest stage. The repartition moves
    only raw documents — far cheaper than the exploded shingles.

    The hashed-shingle table is materialized once as a repartition
    exchange rather than ``.cache()``: the four consumers (signature
    build, sizes, a/b verification sides) all re-read the same shuffle
    files via ReuseExchange, and no executor storage stays pinned after
    the query — at web-corpus scale the exploded shingle table does not
    fit in cluster memory."""
    if num_hashes % bands != 0:  # fail before building any plan
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    sh = _hashed_shingles(df, id_col, text_col, n)
    sig = _rowwise_signatures(sh, id_col, num_hashes)
    cands = _banded_candidate_pairs(
        sig, id_col, "sig", num_hashes, bands
    )

    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a_sh = sh.select(F.col(id_col).alias("a_id"), "h")
    b_sh = sh.select(F.col(id_col).alias("b_id"), "h")
    # Considered and rejected: semi-join-pruning b_sh down to candidate
    # docs before the (b_id, h) join. Measured at the sf1 probe
    # (50k docs): 13.6s -> 19-21s, because the candidate table feeds
    # two consumers and the signature+banding chain re-executes for the
    # prune branch (AQE stage planning did not reuse the exchange even
    # when materialized as a repartition). One full (b_id, h) exchange
    # of the 8-byte-keyed shingle table is the cheaper, simpler plan —
    # and it partitions evenly at any corpus size.
    inter = (
        cands.join(a_sh, "a_id")
        .join(b_sh, ["b_id", "h"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("sz").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("sz").alias("nb"))
    verified = inter.join(sa, "a_id").join(sb, "b_id").select(
        "a_id",
        "b_id",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )
    return verified.filter(F.col("jaccard") >= threshold)


def incremental_lsh_pairs(
    index_df: DataFrame,
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """Incremental-ingest near-dup check: pairs (batch doc, index doc)
    with exact Jaccard >= threshold, candidates generated by MinHash
    LSH BETWEEN the incoming batch and the existing corpus only — the
    shape a production pipeline runs on every new crawl delivery.

    The bipartite banding is the scale win over re-running self-join
    dedup on index ∪ batch: candidates are batch-side bucket rows
    joined against index-side bucket rows, so the (huge) index never
    pairs with itself — per delivery the work is O(batch + matching
    buckets), not O(corpus²-ish). In production the index side's
    signatures and hashed shingles are PRECOMPUTED artifacts persisted
    from previous runs (see io/merge.py's snapshot store); here both
    sides are built in-query, which only adds the index's (map-side,
    linear) signature cost. Ids must be unique ACROSS both frames.

    Output: ``(batch_id, index_id, jaccard)``, no false positives
    (exact verification via the same inverted-index count join as
    minhash_lsh_pairs).
    """
    sh_i, bk_i = index_artifacts(
        index_df, id_col, text_col, n, num_hashes, bands
    )
    sh_b, bk_b = index_artifacts(
        batch_df, id_col, text_col, n, num_hashes, bands
    )
    return incremental_pairs_from_artifacts(
        sh_i, bk_i, sh_b, bk_b, id_col=id_col, threshold=threshold
    )


def index_artifacts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """The two persistable artifacts of a near-dup index: hashed
    shingles ``(id, h)`` (exact-verification side) and LSH band-bucket
    rows ``(id, band, bucket)`` (candidate-generation side). In the
    production crawl loop these are MATERIALIZED once per document into
    the io/merge snapshot store and only the (small) incoming delivery
    recomputes — see streaming.dedup_ingest.incremental_dedup_sink."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    sh = _hashed_shingles(df, id_col, text_col, n)
    bk = _band_bucket_rows(
        _rowwise_signatures(sh, id_col, num_hashes),
        id_col, "sig", num_hashes, bands,
    )
    return sh, bk


def bipartite_candidates(
    index_buckets: DataFrame,
    batch_buckets: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate (batch_id, index_id) pairs sharing at least one LSH
    band bucket — the bucket-join half of the bipartite check, exposed
    separately so a caller holding a PARTITIONED index can compute
    candidates from a pruned bucket scan first and then prune the
    (much larger) shingle scan to just the candidates' partitions
    (streaming.dedup_ingest does exactly this)."""
    bk_i = index_buckets.select(
        F.col(id_col).alias("index_id"), "band", "bucket"
    )
    bk_b = batch_buckets.select(
        F.col(id_col).alias("batch_id"), "band", "bucket"
    )
    return (
        bk_b.join(bk_i, ["band", "bucket"])
        .select("batch_id", "index_id")
        .distinct()
    )


def incremental_pairs_from_artifacts(
    index_shingles: DataFrame,
    index_buckets: DataFrame,
    batch_shingles: DataFrame,
    batch_buckets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The artifact-side core of :func:`incremental_lsh_pairs`: both
    sides arrive as prebuilt ``index_artifacts`` frames (the index side
    typically read back from the snapshot store), so per delivery only
    the bipartite bucket join + exact verification runs.

    ``candidates``: precomputed :func:`bipartite_candidates` output
    (columns ``batch_id, index_id``); when given, the bucket frames are
    not consulted — the partition-pruning path in dedup_ingest computes
    candidates once, collects their partition values, and feeds the
    same frame back here."""
    sh_i = index_shingles
    sh_b = batch_shingles
    cands = (
        candidates
        if candidates is not None
        else bipartite_candidates(index_buckets, batch_buckets, id_col)
    )
    inter = (
        cands.join(sh_b.select(F.col(id_col).alias("batch_id"), "h"), "batch_id")
        .join(sh_i.select(F.col(id_col).alias("index_id"), "h"), ["index_id", "h"])
        .groupBy("batch_id", "index_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    szb = sh_b.groupBy(id_col).agg(F.count(F.lit(1)).alias("nb")).select(
        F.col(id_col).alias("batch_id"), "nb"
    )
    szi = sh_i.groupBy(id_col).agg(F.count(F.lit(1)).alias("ni")).select(
        F.col(id_col).alias("index_id"), "ni"
    )
    return (
        inter.join(szb, "batch_id")
        .join(szi, "index_id")
        .select(
            "batch_id",
            "index_id",
            (
                F.col("inter").cast("double")
                / (F.col("nb") + F.col("ni") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 60  # md5-prefix hashes are 15 hex digits = 60 bits


def token_hash(col: Column) -> Column:
    """Deterministic 60-bit token hash reproducible in any engine:
    first 15 hex digits of md5, as BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash fingerprint: bit b of the output is 1 iff the majority of
    token hashes have bit b set.

    Shaped row-wise, not column-wise: each token fans out to ``bits``
    (doc, bit, ±1) vote rows *inside one codegen stage* (explode →
    partial hash-agg, never materialized), then two tiny aggregations
    roll votes into the fingerprint. The obvious alternative — ``bits``
    separate ``sum()`` expressions in one groupBy — is ~3× slower end to
    end: a 60-aggregate plan costs seconds of Catalyst/codegen time per
    run, which dwarfs its (identical) execution work. Shuffle volume is
    docs × bits either way; per-token CPU is the same ``bits``
    shift-mask ops."""
    spread = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(spread).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", token_hash(F.col("tok")))
    votes = tok.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        "h",
    ).select(id_col, "b", F.expr("(shiftright(h, b) & 1) * 2 - 1").alias("v"))
    per_bit = votes.groupBy(id_col, "b").agg(F.sum("v").alias("s"))
    return per_bit.groupBy(id_col).agg(
        F.sum(
            F.expr(
                "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("simhash")
    )


def simhash_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> str:
    """DuckDB SQL computing the identical fingerprint (shared arithmetic:
    md5-prefix token hashes, majority vote per bit)."""
    h = (
        f"CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)"
    )
    votes = ", ".join(
        f"sum((({h} >> {b}) & 1) * 2 - 1) AS v_{b}" for b in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
        WITH tok AS (
            SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS tok
            FROM {table}
        ), votes AS (
            SELECT {id_col}, {votes} FROM tok GROUP BY {id_col}
        )
        SELECT {id_col}, {fp} AS simhash FROM votes
    """


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    keep_threshold: float = 0.5,
) -> DataFrame:
    """Exact duplicate-substring signal: for each document, how much of
    it is made of token ``n``-grams that occur more than once in the
    WHOLE corpus (the substring-dedup criterion of training-data
    pipelines — long repeated spans mark boilerplate/template text).

    Returns one row per input document: ``n_ngrams`` (gram start
    positions), ``n_dup`` (positions whose gram is globally non-unique),
    ``dup_frac`` (their ratio; null when the doc is shorter than ``n``
    tokens), and ``keep`` (dup_frac below ``keep_threshold``).

    Plan shape (scales linearly in corpus size): ONE positional gram
    explode feeding ONE aggregation to per-(gram-hash, doc) occurrence
    counts (map-side combinable; 64-bit hashes keep shuffle rows at 8
    bytes instead of full gram strings). The corpus-wide gram count is
    then a window sum partitioned by the gram hash over that already
    -aggregated table — no join back to the exploded grams, no second
    explode, no cache — followed by the per-doc rollup. Three shuffles
    total, each over the compact aggregated table, and the raw
    exploded grams are consumed exactly once.
    """
    from pyspark.sql import Window

    # spread the documents across cores before the CPU-heavy explode:
    # small doc tables arrive as one scan partition (one file), which
    # would serialize the gram/hash stage (same rationale as
    # minhash_lsh_pairs)
    spread = df.sparkSession.sparkContext.defaultParallelism
    grams = exploded_shingles(
        df.repartition(spread), [id_col], text_col, n, out_col="gram"
    ).select(F.col(id_col), F.xxhash64("gram").alias("gh"))
    per_gram_doc = grams.groupBy("gh", id_col).agg(
        F.count(F.lit(1)).alias("k")
    )
    flagged = per_gram_doc.withColumn(
        "c", F.sum("k").over(Window.partitionBy("gh"))
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.sum("k").alias("n_ngrams"),
        F.sum(F.when(F.col("c") > 1, F.col("k")).otherwise(F.lit(0))).alias(
            "n_dup"
        ),
    )
    all_docs = df.select(F.col(id_col))
    out = all_docs.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
        F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
    )
    dup_frac = F.when(
        F.col("n_ngrams") > 0,
        F.col("n_dup").cast("double") / F.col("n_ngrams").cast("double"),
    )
    return out.select(
        id_col,
        "n_ngrams",
        "n_dup",
        dup_frac.alias("dup_frac"),
        F.coalesce(dup_frac < keep_threshold, F.lit(True)).alias("keep"),
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination signal: for each corpus document, how
    many of its distinct token ``n``-grams also appear anywhere in the
    benchmark set — the GPT-3/PaLM training-data rule (drop or flag
    documents sharing long n-grams with an eval benchmark).

    Returns one row per corpus document: ``n_grams`` (distinct grams),
    ``n_contaminated`` (grams present in the benchmark),
    ``contaminated`` (any hit). Docs shorter than ``n`` tokens have
    zero grams and are clean by definition.

    Plan: both sides explode to distinct 8-byte gram hashes; the
    benchmark side is typically tiny relative to the corpus, so AQE
    broadcasts it and the corpus never shuffles for the probe — at
    worst it is one hash-keyed equi-join. Linear in corpus size.
    """
    spread = corpus.sparkSession.sparkContext.defaultParallelism
    bench_grams = (
        exploded_shingles(
            benchmark.repartition(spread), [], text_col, n, out_col="g"
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    doc_grams = (
        exploded_shingles(
            corpus.repartition(spread), [id_col], text_col, n, out_col="g"
        )
        .select(F.col(id_col), F.xxhash64("g").alias("gh"))
        .distinct()
    )
    sizes = doc_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        doc_grams.join(bench_grams, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    out = (
        corpus.select(F.col(id_col))
        .join(sizes, id_col, "left")
        .join(hits, id_col, "left")
    )
    return out.select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (the actionable
    counterpart of ``duplicate_ngram_spans``, after Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    token-n-gram-window variant): every token covered by a token
    ``n``-gram that occurs more than once corpus-wide is deleted from
    the document; the survivors are re-joined into ``clean_text``.

    Output: input columns + ``n_tokens``, ``n_removed``,
    ``clean_text``. Docs shorter than ``n`` tokens are untouched.

    Plan (linear in token count, no all-pairs anywhere): one positional
    gram explode, hashed to 8-byte keys and materialized as a
    repartition exchange on the hash so BOTH consumers — the
    duplicate-hash aggregate and the join back to positions — re-read
    one shuffle (the minhash materialize-via-exchange pattern, nothing
    pinned in executor storage); covered token indices fan out ×n from
    the (sparse) duplicate positions only; the rebuild is a per-row HOF
    filter. Hashing trades a ~1e-8 64-bit collision risk for fixed-
    width shuffle keys — the same documented tradeoff as
    ``ngram_jaccard_pairs``; the oracle compares on full gram strings.
    """
    grams = _positional_gram_hashes(df, id_col, text_col, n)
    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("gh")
    )
    return _remove_covered_tokens(df, grams, dup_hashes, id_col, text_col, n)


def _positional_gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, gram hash) rows, spread across cores and materialized
    as a repartition exchange on the hash so multiple consumers re-read
    one shuffle (nothing pinned in executor storage)."""
    spread = df.sparkSession.sparkContext.defaultParallelism
    return (
        exploded_shingles(
            df.repartition(spread), [id_col], text_col, n,
            pos_col="pos", out_col="gram",
        )
        .select(F.col(id_col), "pos", F.xxhash64("gram").alias("gh"))
        .repartition(spread, "gh")
    )


def remove_benchmark_spans(
    df: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Span-level benchmark decontamination: every corpus token covered
    by a token ``n``-gram that appears ANYWHERE in the benchmark set is
    deleted and the survivors re-joined — the surgical counterpart of
    ``benchmark_contamination``'s doc-level flag (drop the overlapping
    spans, keep the rest of the document; the GPT-3 appendix-C rule
    applied as an edit instead of a filter).

    Same linear plan as ``remove_duplicate_spans``, except the bad-gram
    set comes from the benchmark side (distinct hashed benchmark grams
    — small, and the join against the corpus gram exchange is an
    8-byte-key equi-join that broadcasts when the benchmark is small).

    Output: input columns + ``n_tokens``, ``n_removed``, ``clean_text``.
    """
    grams = _positional_gram_hashes(df, id_col, text_col, n)
    bad = (
        exploded_shingles(bench, [], text_col, n, out_col="gram")
        .select(F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    return _remove_covered_tokens(df, grams, bad, id_col, text_col, n)


def _remove_covered_tokens(
    df: DataFrame,
    grams: DataFrame,
    bad_hashes: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
) -> DataFrame:
    """Shared span-scrub tail: tokens covered by any bad positional
    gram are removed; survivors re-join into ``clean_text``."""
    covered = (
        grams.join(bad_hashes, "gh")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("idx"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("idx").alias("_covered"))
    )
    toks = tokens(text_col)
    out = df.join(covered, id_col, "left")
    cov = F.coalesce(F.col("_covered"), F.array().cast("array<int>"))
    # the per-row rebuild is O(n_tokens x |covered|) (array_contains
    # scans); the common heavy case — a fully-boilerplate doc with
    # EVERY token covered — short-circuits to empty, so the quadratic
    # path only runs on partially-covered rows, where |covered| is the
    # duplicated fraction, not the doc length
    cleaned = F.when(
        F.size(cov) >= F.size(toks), F.array().cast("array<string>")
    ).otherwise(F.filter(toks, lambda t, i: ~F.array_contains(cov, i)))
    return out.select(
        "*",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(cov).cast("long").alias("n_removed"),
        F.array_join(cleaned, " ").alias("clean_text"),
    ).drop("_covered")


def _edjoin_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
    q: int,
    short_len: int,
) -> DataFrame:
    """Lossless candidate pairs for edit distance <= max_dist by q-gram
    prefix filtering (Ed-Join, Xiao et al., VLDB 2008 — public). One
    edit changes at most ``q`` padded q-gram POSITIONS, so the gram
    multisets of strings within distance d differ by at most q*d
    occurrences; with every doc keeping only its ``q*d + 1`` globally
    rarest gram occurrences (rarity = corpus df of the (gram,
    occurrence#) key — a total order every doc ranks identically), any
    qualifying pair still shares a kept key. Multiset keys (gram hash,
    occurrence index) rather than distinct grams keep the bound valid
    for repetitive strings, whose distinct-gram count collapses.

    The lemma has power only when the LONGER side has more than q*d
    gram positions, i.e. length > ``short_len``; pairs where both
    sides are short are excluded here (caller covers them with the
    length-band stratum) and pairs already co-short are filtered so the
    two generators never double-emit.

    Shuffle ledger at scale: gram explode (map-side), one hash agg for
    per-doc gram counts, one for global key df, one per-doc window for
    the prefix cut, one self-join over prefix keys, one distinct. All
    keys are 8-byte hashes; no step is quadratic in corpus size.
    """
    from pyspark.sql import Window

    prefix_len = q * max_dist + 1
    pad_l = "\x01" * (q - 1)
    pad_r = "\x02" * (q - 1)
    padded = F.concat(F.lit(pad_l), F.col(text_col), F.lit(pad_r))
    spread = df.sparkSession.sparkContext.defaultParallelism
    # grams built AFTER exploding the position sequence, and occurrence
    # keys hashed AFTER exploding the occurrence sequence — both
    # formerly transform() lambdas, which evaluate interpreted outside
    # whole-stage codegen (the exploded_shingles lesson)
    base = df.repartition(spread).select(
        F.col(id_col), F.length(text_col).alias("_len"), padded.alias("_pt")
    )
    # multiset -> (gram hash, occurrence#) keys: the j-th copy of gram g
    # in doc a can only match the j-th copy in doc b, which turns
    # multiset intersection into plain key-set intersection
    occs = (
        base.select(
            F.col(id_col), "_len", "_pt",
            F.explode(
                F.sequence(F.lit(1), F.length("_pt") - (q - 1))
            ).alias("_i"),
        )
        .select(
            F.col(id_col), "_len",
            F.substring(F.col("_pt"), F.col("_i"), F.lit(q)).alias("_g"),
        )
        .groupBy(id_col, "_len", F.xxhash64("_g").alias("g0"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            F.col(id_col), "_len", "g0",
            F.explode(F.sequence(F.lit(1), F.col("_cnt"))).alias("_occ"),
        )
        .select(
            F.col(id_col),
            "_len",
            F.xxhash64(F.col("g0"), F.col("_occ")).alias("k"),
        )
    )
    kdf = occs.groupBy("k").agg(F.count(F.lit(1)).alias("kdf"))
    w = Window.partitionBy(id_col).orderBy("kdf", "k")
    prefix = (
        occs.join(kdf, "k")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select(F.col(id_col), "_len", "k")
    )
    a = prefix.select(
        F.col(id_col).alias("a_id"), F.col("_len").alias("_al"), "k"
    )
    b = prefix.select(
        F.col(id_col).alias("b_id"), F.col("_len").alias("_bl"), "k"
    )
    return (
        a.join(b, "k")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & ((F.col("_al") > short_len) | (F.col("_bl") > short_len))
        )
        .select("a_id", "b_id")
        .distinct()
    )


def _band_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocks: list,
    max_dist: int,
    band_width: int,
    dense_band_cap: int | None = None,
    dense_band_window: int = 64,
) -> DataFrame:
    """Length-banded candidate pairs: edit distance >= absolute length
    difference, so a pair at distance <= d can only straddle adjacent
    ``band_width``-wide length buckets (band_width >= max_dist). Each
    doc lands in its native bucket floor(len/W) and, replicated once,
    in the next bucket up; a candidate pair always meets in exactly ONE
    bucket — (native, native) covers same-bucket pairs, (replica-a,
    native-b) covers the straddle, and replica-replica pairs are
    dropped before the join emits them, so no distinct() is needed.
    Candidate volume is O(n_bucket^2): fine for small or sparse strata,
    quadratic on dense corpora.

    ``dense_band_cap`` (r10) retires that quadratic: bands with more
    than ``dense_band_cap`` members switch from all-pairs to
    TEXT-SORTED NEIGHBORHOOD pairing — members rank by (text, id)
    within the band and each compares with its next
    ``dense_band_window`` successors only, O(n * window) per band
    instead of O(n^2). Deterministic (total order, no randomness) and
    EXACT below the cap: a corpus whose largest band is <= the cap
    returns the identical full pair set, so oracle pins at verify
    scales stand untouched while the sf1+ growth curve turns linear.
    Above the cap the result is a declared-bounded subset: a pair is
    found iff its members sort within ``window`` of each other in
    their band — near-dup texts (long shared prefixes) sort adjacent
    unless the first edit falls inside the shared-prefix head, which
    is what makes SNM (Hernandez & Stolfo, SIGMOD 1995 — public) the
    standard bounded fallback; corpora needing exhaustive coverage at
    that density belong to MinHash-LSH. The bound is never silent:
    callers can count truncated bands via ``_bn > cap`` on the same
    grouping this computes."""
    w = band_width
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in blocks],
        F.length(text_col).alias("_len"),
        F.col(text_col).alias("_txt"),
    )
    native = F.floor(F.col("_len") / w)
    bucketed = base.select(
        "*",
        F.explode(
            F.array(
                F.struct(native.alias("b"), F.lit(False).alias("repl")),
                F.struct((native + 1).alias("b"), F.lit(True).alias("repl")),
            )
        ).alias("_bb"),
    ).select(
        "*", F.col("_bb.b").alias("_bucket"), F.col("_bb.repl").alias("_repl")
    )
    # block columns join as xxhash64 surrogates: xxhash64(NULL) is the
    # (non-null) seed, so NULL blocks match each other — same semantics
    # as the eqNullSafe verification filter downstream (a plain
    # equi-join on the raw columns would silently drop NULL-block
    # pairs that the edjoin generator keeps). A hash collision can only
    # ADD a candidate, which verification removes.
    bkeys = [f"_bk_{c}" for c in blocks]
    hashed = bucketed.select(
        "*", *[F.xxhash64(F.col(c)).alias(k) for c, k in zip(blocks, bkeys)]
    )

    def _all_pairs(rows: DataFrame) -> DataFrame:
        a = rows.select(
            F.col(id_col).alias("a_id"),
            F.col("_len").alias("_a_len"),
            F.col("_repl").alias("_a_repl"),
            *bkeys,
            "_bucket",
        )
        b = rows.select(
            F.col(id_col).alias("b_id"),
            F.col("_len").alias("_b_len"),
            F.col("_repl").alias("_b_repl"),
            *bkeys,
            "_bucket",
        )
        return (
            a.join(b, bkeys + ["_bucket"])
            .filter(
                (F.col("a_id") < F.col("b_id"))
                & ~(F.col("_a_repl") & F.col("_b_repl"))
                & (F.abs(F.col("_a_len") - F.col("_b_len")) <= max_dist)
            )
            .select("a_id", "b_id")
        )

    if dense_band_cap is None:
        return _all_pairs(hashed)

    from pyspark.sql import Window

    wb = Window.partitionBy(*bkeys, "_bucket")
    sized = hashed.withColumn("_bn", F.count(F.lit(1)).over(wb))
    sparse = _all_pairs(sized.filter(F.col("_bn") <= dense_band_cap))
    # Dense bands: rank by (text, id) — a deterministic total order —
    # and pair each member with its next `window` successors. A pair
    # meets in exactly one band (same replica discipline as above), so
    # sparse ∪ dense stays duplicate-free without a distinct().
    wr = Window.partitionBy(*bkeys, "_bucket").orderBy("_txt", id_col)
    ranked = (
        sized.filter(F.col("_bn") > dense_band_cap)
        .withColumn("_rn", F.row_number().over(wr))
    )
    win = dense_band_window
    a = ranked.select(
        F.col(id_col).alias("_ida"),
        F.col("_len").alias("_a_len"),
        F.col("_repl").alias("_a_repl"),
        *bkeys,
        "_bucket",
        F.explode(
            F.when(
                F.col("_rn") < F.col("_bn"),
                F.sequence(
                    F.col("_rn") + 1, F.least(F.col("_rn") + win, F.col("_bn"))
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_tr"),
    )
    b = ranked.select(
        F.col(id_col).alias("_idb"),
        F.col("_len").alias("_b_len"),
        F.col("_repl").alias("_b_repl"),
        *bkeys,
        "_bucket",
        F.col("_rn").alias("_tr"),
    )
    dense = (
        a.join(b, bkeys + ["_bucket", "_tr"])
        .filter(
            ~(F.col("_a_repl") & F.col("_b_repl"))
            & (F.abs(F.col("_a_len") - F.col("_b_len")) <= max_dist)
        )
        .select(
            F.least("_ida", "_idb").alias("a_id"),
            F.greatest("_ida", "_idb").alias("b_id"),
        )
    )
    return sparse.unionByName(dense)


def editdistance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    max_dist: int = 16,
    band_width: int | None = None,
    method: str = "edjoin",
    q: int = 3,
    dense_band_cap: int | None = None,
    dense_band_window: int = 64,
) -> DataFrame:
    """Fifth dedup family: fuzzy pairs by character edit distance
    (Levenshtein <= ``max_dist``), the classic fine-grained near-dup
    test for short documents / titles / code lines where word-level
    Jaccard is too coarse (one-character typos, whitespace drift).

    Two lossless candidate generators (identical output, different
    cost curves):

    * ``method="edjoin"`` (default) — q-gram prefix filtering over
      (gram, occurrence) multiset keys; see ``_edjoin_candidates``.
      The lemma is void when BOTH strings have <= q*d gram positions
      (they may share no gram at all within distance d), so the short
      stratum — length <= q*(max_dist-1)+1 — goes through
      length-banding instead: verification there is cheap (strings of
      at most ~q*d chars) and the two generators filter co-short /
      non-short pairs respectively so no pair is emitted twice.
    * ``method="band"`` — length-banded blocking for everything; see
      ``_band_candidates``. O(n_bucket²) candidates.

    WHICH METHOD SCALES depends on gram diversity, and the difference
    is measured, not guessed: on natural text (10^5-10^6 distinct char
    q-grams, df-1 tails) edjoin's rare-gram posting lists are
    near-singleton and candidate volume tracks true-pair density — the
    published Ed-Join result. On the synthetic low-diversity corpus in
    this repo's testdata (464 distinct trigrams across 5k docs, min
    df 133) rarity cannot discriminate: edjoin produced 8.4M candidates
    where banding produced 208k (sf0.1), and both hit a quadratic wall
    at sf1 (231s vs 205s). ``dense_band_cap``/``dense_band_window``
    (r10) bound that wall for the band generator: bands above the cap
    fall back to deterministic text-sorted neighborhood pairing
    (O(n*window) per band — see ``_band_candidates``), exact below the
    cap, declared-bounded above it. Operators should pick per corpus
    shape; for full-document near-dup at web scale the right family is
    MinHash-LSH (``minhash_lsh_pairs``) regardless — character edit
    distance is the SHORT-string tool (titles, lines, URLs), where
    band buckets stay small.

    Verification (both methods) stays JVM-side:
    ``F.levenshtein(a, b, threshold)`` (Spark >= 3.5) early-exits at
    the threshold — O(d * n) per pair instead of O(n * m) — and
    returns -1 past it. ``block_col`` (never compare across languages)
    is enforced at verification, and inside band candidate generation
    where it also prunes.

    Output: (a_id, b_id, dist), a_id < b_id, dist <= max_dist.
    """
    if method not in ("edjoin", "band"):
        raise ValueError(f"unknown method {method!r}")
    if band_width is None:
        band_width = max_dist
    if band_width < max_dist:
        raise ValueError(
            f"band_width ({band_width}) must be >= max_dist ({max_dist}):"
            " narrower bands would drop straddling pairs"
        )
    blocks = [block_col] if block_col else []
    if method == "band":
        cands = _band_candidates(
            df, id_col, text_col, blocks, max_dist, band_width,
            dense_band_cap=dense_band_cap,
            dense_band_window=dense_band_window,
        )
    else:
        short_len = q * (max_dist - 1) + 1
        long_pairs = _edjoin_candidates(
            df, id_col, text_col, max_dist, q, short_len
        )
        short_docs = df.filter(F.length(text_col) <= short_len)
        short_pairs = _band_candidates(
            short_docs, id_col, text_col, blocks, max_dist, band_width,
            dense_band_cap=dense_band_cap,
            dense_band_window=dense_band_window,
        )
        cands = long_pairs.unionByName(short_pairs)

    texts = df.select(
        F.col(id_col),
        F.col(text_col),
        *[F.col(c) for c in blocks],
        F.length(text_col).alias("_len"),
    )
    a_t = texts.select(
        F.col(id_col).alias("a_id"),
        F.col(text_col).alias("_a_text"),
        F.col("_len").alias("_a_len"),
        *[F.col(c).alias(f"_a_{c}") for c in blocks],
    )
    b_t = texts.select(
        F.col(id_col).alias("b_id"),
        F.col(text_col).alias("_b_text"),
        F.col("_len").alias("_b_len"),
        *[F.col(c).alias(f"_b_{c}") for c in blocks],
    )
    joined = cands.join(a_t, "a_id").join(b_t, "b_id").filter(
        F.abs(F.col("_a_len") - F.col("_b_len")) <= max_dist
    )
    for c in blocks:
        joined = joined.filter(F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}")))
    dist = F.levenshtein(F.col("_a_text"), F.col("_b_text"), max_dist)
    return (
        joined.select("a_id", "b_id", dist.cast("long").alias("dist"))
        .filter(F.col("dist") >= 0)
    )
