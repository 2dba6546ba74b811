"""Similarity search over embedding columns (``array<float>``).

* ``cosine`` — JVM higher-order-function dot product (zip_with +
  aggregate in double precision, left-to-right — bit-reproducible).
* ``topk_bruteforce`` — broadcast the (small) query set against the
  corpus; one pass, no shuffle of the corpus, then a per-query top-k
  window. The exact baseline: at 100 TB this is a full scan per query
  batch, which is exactly what you want for bulk labeling jobs.
* ``hyperplane_buckets`` / ``topk_lsh`` — random-hyperplane LSH: a
  16-bit signature from sign(v·p) over fixed seeded planes; queries
  probe only their own bucket (optionally multi-probe). The scale path:
  turns per-query cost from O(N) into O(N / 2^bits) with approximate
  recall.
* ``topk_ivf_deterministic`` — IVF top-k over md5-seeded, pinned-fold
  cells (every float re-derivable by its DuckDB twin).
* ``seeded_centroids`` / ``kmeans_refine`` / ``ivf_assign`` — the numpy
  IVF coarse quantizer under ``pq.build_ivfpq``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _cosine_expr(a: str, b: str) -> Column:
    """``cosine`` over two float-array COLUMN NAMES, rendered as one
    SQL expression (litfast text twins — bit-identical to the
    :func:`cosine` Column builder, which costs ~100 py4j round trips
    per call)."""
    from solar_logger_spark.operators.litfast import cd_s, cosd_s

    return F.expr(cosd_s(cd_s(a), cd_s(b)))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, accumulated left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (cosine), deterministic
    tiebreak on neighbor id. Queries are broadcast; the corpus never
    shuffles.

    The similarity math stays JVM-side (``cosine`` HOF inside codegen,
    bit-reproducible against the SQL oracle). What never leaves the map
    task is the |corpus| × |queries| score stream: an Arrow kernel keeps
    a k-deep running top-k per query per partition — selection only, no
    float arithmetic, so results are bit-identical to the naive window —
    and only partitions × |queries| × k rows reach the final exact
    top-k shuffle. The naive shape (global ``row_number`` directly over
    the scored cross product) would shuffle |corpus| × |queries| rows —
    a trillion-row exchange at 100 TB with a real query batch."""
    import pandas as pd

    from solar_logger_spark.operators.spread import spread_small

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # spread a single-partition corpus scan: the |corpus| x |queries|
    # cosine folds below are interpreted HOFs and otherwise run in one
    # task (guide §2.5); per-partition top-k selection is exact under
    # any partitioning
    c = spread_small(corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_expr("q_vec", "c_vec").alias("cos_sim"),
        )
    )
    if band is not None:
        # half-open [lo, hi): both engines derive bit-identical cos_sim
        # (pinned fold order), so boundary decisions cannot diverge.
        lo, hi = band
        if not lo < hi:
            raise ValueError(f"empty similarity band [{lo}, {hi})")
        scored = scored.filter(
            (F.col("cos_sim") >= F.lit(float(lo)))
            & (F.col("cos_sim") < F.lit(float(hi)))
        )

    id_type = corpus.schema[id_col].dataType.simpleString()
    part_schema = (
        f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"
    )

    def _partial_topk(batches):
        best: dict = {}  # query_id -> (sims desc, neighbor ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for qid, grp in pdf.groupby("query_id", sort=False):
                s = grp["cos_sim"].to_numpy()
                n = grp["neighbor_id"].to_numpy()
                prev = best.get(qid)
                if prev is not None:
                    s = np.concatenate([prev[0], s])
                    n = np.concatenate([prev[1], n])
                # same total order as the final window: sim desc, id asc.
                # Spark sorts NaN as the largest value (first under desc);
                # numpy lexsort would put it last — pin it first explicitly.
                key = -s
                key[np.isnan(key)] = -np.inf
                order = np.lexsort((n, key))[:k]
                best[qid] = (s[order], n[order])
        if best:
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        np.array(list(best)),
                        [len(v[0]) for v in best.values()],
                    ),
                    "neighbor_id": np.concatenate(
                        [v[1] for v in best.values()]
                    ),
                    "cos_sim": np.concatenate([v[0] for v in best.values()]),
                }
            )

    part = scored.mapInPandas(_partial_topk, part_schema)
    win = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        part.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    floor: float = 0.30,
    ceiling: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive hard-negative mining: per anchor (query), the top-k
    corpus vectors whose cosine lies in the half-open band
    ``[floor, ceiling)`` — similar enough to be hard for a contrastive
    objective, but below the near-duplicate ceiling that would make
    them FALSE negatives (``ceiling`` should match the corpus's dedup
    threshold, cf. ``neardup_pairs``). Anchors with fewer than k
    in-band candidates return what exists; anchors with none drop out.
    Same exact kernel and scale shape as ``topk_bruteforce`` (banded
    selection happens map-side before the partial top-k), so results
    stay bit-reproducible against a plain SQL twin."""
    return topk_bruteforce(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        band=(floor, ceiling),
    )


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefilter_buckets: bool = False,
    dim: int = 64,
    method: str = "blocked",
    n_blocks: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold.

    ``method="blocked"`` (default) — exact and fully distributed: rows
    hash into ``n_blocks`` balanced blocks, each row is replicated to
    the block-pairs it participates in (B+1 copies), and every block
    pair (i ≤ j) is scored independently by a chunked numpy kernel
    inside ``applyInPandas``. Nothing is collected to the driver and
    nothing is broadcast; shuffle volume is (B+1)·N·dim and the N²
    similarity work happens inside C loops that only surface survivors.
    Pick B so a block (N/B vectors) fits executor memory — the group
    count B(B+1)/2 then spreads across the cluster. Exact all-pairs is
    inherently O(N²) flops at any scale; this shape distributes them
    evenly with one shuffle.

    ``method="lsh"`` (or ``prefilter_buckets=True``) — approximate:
    restrict pairing to sign-LSH bucket collisions first. Cheapest at
    very high thresholds where collision probability is near 1; recall
    degrades as the threshold drops (at 0.45 an 8-plane prefilter keeps
    only ~3% of true pairs), so it is an explicit opt-in, not the
    default.

    ``method="broadcast"`` — the small-N exact path: collect the corpus
    matrix to the driver and broadcast it (N×dim doubles), each executor
    scoring its slice against the whole. Only valid when the matrix is
    comfortably broadcastable; kept for benchmarking the blocked path.

    All paths accumulate dimensions in index order so results are
    bit-identical to the ``aggregate``/``zip_with`` HOF formulation.
    """
    if prefilter_buckets:
        method = "lsh"
    if method == "lsh":
        a = embeddings.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
        b = embeddings.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
        buckets = hyperplane_buckets(embeddings, id_col=id_col, vec_col=vec_col,
                                     n_planes=8, dim=dim)
        ab = buckets.select(F.col(id_col).alias("a_id"), "bucket")
        bb = buckets.select(F.col(id_col).alias("b_id"), "bucket")
        pairs = ab.join(bb, "bucket").filter(F.col("a_id") < F.col("b_id"))
        pairs = pairs.join(a, "a_id").join(b, "b_id")
        return (
            pairs.select(
                "a_id", "b_id", _cosine_expr("a_vec", "b_vec").alias("cos_sim")
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    if method == "blocked":
        return _blocked_neardup_pairs(
            embeddings, threshold, id_col, vec_col, n_blocks
        )
    if method != "broadcast":
        raise ValueError(f"unknown neardup method: {method!r}")

    import pandas as pd

    spark = embeddings.sparkSession
    side = embeddings.select(id_col, vec_col).toPandas()
    ids_all = side[id_col].to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in side[vec_col]])
    norms_all = _ltr_norms(mat)
    bc = spark.sparkContext.broadcast((ids_all, mat, norms_all))

    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"a_id {id_type}, b_id {id_type}, cos_sim double"

    def _score(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy()
            a_mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            a_norms = _ltr_norms(a_mat)
            for lo in range(0, len(a_ids), 1024):  # bound the sim block
                hi = min(lo + 1024, len(a_ids))
                acc = np.zeros((hi - lo, len(b_ids)))
                for d in range(a_mat.shape[1]):  # index order = HOF order
                    acc += a_mat[lo:hi, d, None] * b_mat[None, :, d]
                sim = acc / (a_norms[lo:hi, None] * b_norms[None, :])
                mask = (sim >= threshold) & (a_ids[lo:hi, None] < b_ids[None, :])
                ai, bj = np.nonzero(mask)
                yield pd.DataFrame(
                    {
                        "a_id": a_ids[lo + ai],
                        "b_id": b_ids[bj],
                        "cos_sim": sim[ai, bj],
                    }
                )

    n_parts = spark.sparkContext.defaultParallelism
    return embeddings.select(id_col, vec_col).repartition(n_parts).mapInPandas(
        _score, out_schema
    )


def _blocked_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_blocks: int | None,
) -> DataFrame:
    """Exact distributed all-pairs cosine ≥ threshold via block joins.

    Row with block k is shipped once per block-pair it belongs to: as
    the "a" side of pairs (k, j≥k) and the "b" side of pairs (i≤k, k) —
    B+1 copies total. Each (bi, bj) group then holds exactly the rows
    needed to enumerate its cross pairs; the diagonal group holds its
    block twice (once per role) and dedupes with a strict id order.
    Hash blocks are balanced, so groups are uniform — no skew handling
    needed. The kernel chunks the "a" side so the similarity block never
    exceeds chunk × |block| doubles.
    """
    import pandas as pd

    if n_blocks is None:
        par = embeddings.sparkSession.sparkContext.defaultParallelism
        n_blocks = max(4, int(np.ceil(np.sqrt(2 * par))))
    B = int(n_blocks)

    rows = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).withColumn("_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(B)).cast("int"))
    a_rep = rows.select(
        "_id",
        "_vec",
        F.col("_blk").alias("bi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(B - 1))).alias("bj"),
        F.lit(0).alias("_role"),
    )
    b_rep = rows.select(
        "_id",
        "_vec",
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("bi"),
        F.col("_blk").alias("bj"),
        F.lit(1).alias("_role"),
    )
    both = a_rep.unionByName(b_rep)

    def _score_block(key, pdf):
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        if len(pdf) == 0:
            return empty
        a_pdf = pdf[pdf["_role"] == 0]
        b_pdf = pdf[pdf["_role"] == 1]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return empty
        diagonal = key[0] == key[1]
        a_ids = a_pdf["_id"].to_numpy()
        b_ids = b_pdf["_id"].to_numpy()
        a_mat = np.array([np.asarray(v, dtype=np.float64) for v in a_pdf["_vec"]])
        b_mat = np.array([np.asarray(v, dtype=np.float64) for v in b_pdf["_vec"]])
        a_norms = _ltr_norms(a_mat)
        b_norms = _ltr_norms(b_mat)
        outs = []
        for lo in range(0, len(a_ids), 1024):  # bound the sim block
            hi = min(lo + 1024, len(a_ids))
            acc = np.zeros((hi - lo, len(b_ids)))
            for d in range(a_mat.shape[1]):  # index order = HOF order
                acc += a_mat[lo:hi, d, None] * b_mat[None, :, d]
            sim = acc / (a_norms[lo:hi, None] * b_norms[None, :])
            mask = sim >= threshold
            if diagonal:
                # block appears in both roles: strict id order keeps each
                # unordered pair once and drops self-pairs
                mask &= a_ids[lo:hi, None] < b_ids[None, :]
            ai, bj = np.nonzero(mask)
            lhs, rhs = a_ids[lo + ai], b_ids[bj]
            if not diagonal:
                # cross-block pair direction is block-order, not id-order;
                # canonicalize so a_id < b_id like the diagonal/oracle
                lhs, rhs = np.minimum(lhs, rhs), np.maximum(lhs, rhs)
            outs.append(
                pd.DataFrame({"a_id": lhs, "b_id": rhs, "cos_sim": sim[ai, bj]})
            )
        return pd.concat(outs, ignore_index=True)

    id_type = embeddings.schema[id_col].dataType.simpleString()
    return both.groupBy("bi", "bj").applyInPandas(
        _score_block, f"a_id {id_type}, b_id {id_type}, cos_sim double"
    )


def _ltr_norms(mat: "np.ndarray") -> "np.ndarray":
    """sqrt(Σ v_d²) accumulated in dimension order — matches the
    left-to-right ``aggregate`` fold bit-for-bit."""
    acc = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def _plane_literals(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes derived from md5 — the repo's
    reproducible-hash discipline (cf. sketches.bloom_bits, winnowing).
    Coefficient (p, d) is uniform in [-1, 1): the top 60 bits of
    md5('plane|seed|p|d') scaled by ``h / 2^60 * 2 - 1``. Every step is
    either IEEE-exact (power-of-two divide, *2) or identically rounded
    (int→double) across engines, so a DuckDB oracle re-derives the SAME
    doubles from the same md5 strings — what makes ``topk_lsh``'s
    declared query hash-comparable instead of rows-only. Uniform-cube
    (not Gaussian) directions change nothing for sign-LSH recall here;
    tests/test_ann_recall.py re-pins recall@k ≥ 0.8."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            key = f"plane|{seed}|{p}|{d}".encode()
            h = int(hashlib.md5(key).hexdigest()[:15], 16)
            row.append(h / 2.0**60 * 2.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Sign-bit LSH bucket id per vector: bit p = (v · plane_p) >= 0."""
    planes = _plane_literals(n_planes, dim, seed)
    from solar_logger_spark.operators.litfast import cd_s, dlit_s, dot_s

    # one SQL expression for the whole signature (litfast): integer
    # math, so any association gives the identical bucket; the folds
    # inside each sign bit stay the pinned dimension-order form
    bucket = "CAST(0 AS BIGINT)"
    for p, plane in enumerate(planes):
        d = dot_s(cd_s(vec_col), cd_s(dlit_s(plane)))
        bucket = (
            f"({bucket} + CAST(CASE WHEN {d} >= 0 THEN 1 ELSE 0 END "
            f"AS BIGINT) * CAST({2 ** p} AS BIGINT))"
        )
    return df.selectExpr(id_col, f"{bucket} AS bucket")


def _table_buckets(
    df: DataFrame,
    out_id: str,
    id_col: str,
    vec_col: str,
    n_planes: int,
    dim: int,
    n_tables: int,
    seed: int,
    exact_fold: bool = True,
) -> DataFrame:
    """(id, tbl, bucket) rows for ``n_tables`` independent sign-LSH
    tables, computed in ONE scan: a single Arrow-batched matmul against
    all tables' planes at once ((n, dim) @ (dim, T·b) — the HOF
    expression route costs T·b interpreted array folds per row, which
    at 8 tables × 8 planes is ~100× slower than the fused kernel).
    Plane literals are the same seeded values as
    ``hyperplane_buckets``; table t uses seed + 7919·t."""
    import pandas as pd

    all_planes = np.concatenate(
        [
            np.asarray(
                _plane_literals(n_planes, dim, seed + 7919 * t),
                dtype=np.float64,
            )
            for t in range(n_tables)
        ]
    )  # (T·b, dim)
    weights = (2 ** np.arange(n_planes)).astype(np.int64)
    bc = df.sparkSession.sparkContext.broadcast(all_planes)

    def _bucketize(batches):
        planes = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if exact_fold:
                # dimension-order accumulation (NOT a BLAS matmul,
                # whose association is unspecified): each sign bit's
                # dot product is the same left-to-right 0+Σ v_d·w_d
                # fold the SQL oracle's list_sum computes, so buckets —
                # and therefore the candidate set — agree bit-for-bit
                # across engines. Pay this ONLY where a hash-compared
                # oracle needs it (the declared similarity_ann_lsh
                # query); production recall does not depend on which
                # side of zero a ~1-ulp-ambiguous dot product lands.
                acc = np.zeros((len(a), planes.shape[0]))
                for d in range(planes.shape[1]):
                    acc += a[:, d, None] * planes[None, :, d]
            else:
                acc = a @ planes.T  # BLAS fast path
            bits = acc >= 0  # (n, T·b)
            bits = bits.reshape(len(a), n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2)  # (n, T)
            yield pd.DataFrame(
                {
                    out_id: pdf[id_col].to_numpy().repeat(n_tables),
                    "tbl": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(a)
                    ),
                    "bucket": buckets.ravel().astype(np.int64),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        _bucketize, f"{out_id} {id_type}, tbl int, bucket long"
    )


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    multiprobe: int = 0,
    seed: int = 7,
    exact_fold: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors that collide with
    the query in at least one LSH table. Same output shape as
    ``topk_bruteforce``.

    Recall amplification is the standard two-axis design (FALCONN-style,
    public): ``n_tables`` independent plane sets OR-combine collision
    probability (1-(1-p^b)^L), and ``multiprobe`` additionally probes
    every bucket within that Hamming radius of the query's own bucket in
    each table — near-miss sign flips are where most lost neighbors
    hide, so probing them buys recall without more tables. Candidate
    fraction stays ~L·Σ_r C(b,r)/2^b of the corpus; with one table and
    radius 0 this is the classic single-bucket probe. Corpus buckets for
    all tables are computed in one scan; candidates dedupe before the
    exact-cosine re-score, so the output is exact ranking over the
    candidate set.

    ``exact_fold``: True keeps bucket dot products in dimension-order
    accumulation so a SQL oracle re-derives identical buckets (the
    declared hash-compared query's requirement); False takes the BLAS
    matmul fast path — same recall contract (tests/test_ann_recall.py
    covers both) — use it everywhere a bit-identical candidate set is
    not being audited."""
    from solar_logger_spark.operators.spread import spread_small

    corpus = spread_small(corpus)  # single-file scans bucketize and
    # re-score in ONE task otherwise; buckets/cosines are per-row math
    cb = _table_buckets(
        corpus, "neighbor_id", id_col, vec_col, n_planes, dim, n_tables,
        seed, exact_fold,
    )
    qb = _table_buckets(
        queries, "query_id", id_col, vec_col, n_planes, dim, n_tables,
        seed, exact_fold,
    )
    if multiprobe > 0:
        masks = [
            m for m in range(1 << n_planes)
            if bin(m).count("1") <= multiprobe
        ]
        qb = qb.select(
            "query_id",
            "tbl",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("_mask"),
            "bucket",
        ).select(
            "query_id",
            "tbl",
            F.col("bucket")
            .bitwiseXOR(F.col("_mask").cast("bigint"))
            .alias("bucket"),
        )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id",
                _cosine_expr("q_vec", "c_vec").alias("cos_sim"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_assign(
    df: DataFrame,
    centroids: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine) — the IVF
    coarse quantizer. Centroids are a small numpy matrix broadcast into
    an Arrow-batched kernel; output adds a ``cell`` column the corpus is
    then repartitioned/clustered by."""
    import pandas as pd

    spark = df.sparkSession
    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = _ltr_norms(cmat)
    bc = spark.sparkContext.broadcast((cmat, cnorm))

    def _assign(batches):
        mat, norms = bc.value
        for pdf in batches:
            a = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if len(a) == 0:
                continue
            an = _ltr_norms(a)
            sims = (a @ mat.T) / (an[:, None] * norms[None, :])
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = sims.argmax(axis=1).astype("int32")
            yield out

    schema = f"{id_col} long, {vec_col} array<float>, cell int"
    return df.select(id_col, vec_col).mapInPandas(_assign, schema)


def seeded_centroids(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Deterministic IVF codebook without iterative training: the k
    vectors with the smallest xxhash-style surrogate (lowest ids after a
    fixed shuffle) serve as centroids. At scale you would run a few
    k-means sweeps (each one mapInPandas assign + groupBy mean); seeding
    keeps tests reproducible without an ML dependency."""
    from pyspark.sql import functions as F

    rows = (
        df.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    return np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])


def kmeans_refine(
    df: DataFrame,
    init: "np.ndarray",
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Refine an IVF codebook with distributed spherical k-means (Lloyd)
    sweeps. Each sweep is ONE scan of the corpus: an Arrow-batched
    kernel computes per-partition partial ``(cell, Σv, n)`` sums, the
    k×dim partials reduce on the driver (tiny — this is the same
    topology Spark ML's KMeans uses), and new centroids are the
    L2-normalized cell means. Empty cells keep their previous centroid.

    Deterministic: partials carry their partition id and reduce in
    (partition, cell) order, so the float sums associate identically
    run-to-run. No vector ever shuffles; sweep cost is a map-only scan.
    """
    import pandas as pd

    spark = df.sparkSession
    cents = np.asarray(init, dtype=np.float64).copy()
    k, dim = cents.shape
    data = df.select(vec_col)

    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast((cents, _ltr_norms(cents)))

        def _partials(batches):
            from pyspark import TaskContext

            mat, norms = bc.value
            sums = np.zeros((k, dim))
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                a = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                if len(a) == 0:
                    continue
                an = _ltr_norms(a)
                assign = (
                    (a @ mat.T) / (an[:, None] * norms[None, :])
                ).argmax(axis=1)
                np.add.at(sums, assign, a)
                counts += np.bincount(assign, minlength=k)
            pid = TaskContext.get().partitionId()
            yield pd.DataFrame(
                {
                    "pid": pid,
                    "cell": np.arange(k, dtype="int32"),
                    "vsum": list(sums),
                    "n": counts,
                }
            )

        rows = data.mapInPandas(
            _partials, "pid int, cell int, vsum array<double>, n long"
        ).collect()
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for r in sorted(rows, key=lambda r: (r["pid"], r["cell"])):
            sums[r["cell"]] += np.asarray(r["vsum"], dtype=np.float64)
            counts[r["cell"]] += r["n"]
        nonempty = counts > 0
        means = sums[nonempty] / counts[nonempty, None]
        cents[nonempty] = means / _ltr_norms(means)[:, None]
    return cents


def ivf_inertia(
    df: DataFrame,
    centroids: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean cosine distance (1 − cos) of each vector to its assigned
    centroid — the spherical k-means objective, for codebook quality
    checks."""
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    cmat = np.asarray(centroids, dtype=np.float64)
    cents_df = df.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in cmat[i]]) for i in range(len(cmat))],
        "cell int, c_vec array<double>",
    )
    row = (
        assigned.join(F.broadcast(cents_df), "cell")
        .select((1 - cosine(F.col(vec_col), F.col("c_vec"))).alias("d"))
        .agg(F.avg("d").alias("inertia"))
        .collect()[0]
    )
    return float(row["inertia"])


def topk_ivf_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    lloyd_rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k whose ENTIRE training pipeline is deterministic and
    cross-engine re-derivable — the one IVF-only retriever (the
    ``similarity_ann_ivf`` registry query and its DuckDB twin):
    centroid INIT is the ``n_cells`` corpus vectors with the
    lexicographically smallest ``md5('cent|' || id)`` (cell = hash
    order), and each of the FIXED ``lloyd_rounds`` k-means sweeps
    assigns by bit-pinned cosine (left-to-right folds) and recomputes
    each cell's mean with a bounded hierarchical fold pinned to
    member-id order — so a DuckDB twin re-derives the identical
    codebook, cells, candidates, cosines, and ranks, and the driver's
    value-hash gate applies instead of a rows-only record.

    Cost shape: assignment is a broadcast of ``n_cells`` centroid rows
    against the corpus (map-only per round); the pinned mean folds
    members WITHIN 256-id blocks, block partials within 256-block
    superblocks, then superblock partials in order
    (``pq._pinned_hier_mean``) — every task array bounded, no per-cell
    member list anywhere. (:func:`kmeans_refine`, partition-ordered
    numpy partial sums, trains the coarse cells of the numpy IVF-PQ
    index, ``pq.build_ivfpq``.) Probing
    broadcasts |queries|·n_probe rows; candidates re-score with the
    same pinned cosine.

    Ties (equal cosines) break to the LOWEST cell / neighbor id on
    both engines, so bit-identical scores imply identical choices.
    Empty cells keep their previous centroid. ``lloyd_rounds=0`` is
    the pure hash-seeded codebook.
    """
    from solar_logger_spark.operators.litfast import cd_s, cosd_s, dlit_s
    from solar_logger_spark.operators.spread import spread_small

    spark = corpus.sparkSession
    # spread the single-partition corpus scan before the pinned cosine
    # folds (assignment + re-score are per-row; means pin member order)
    vecs = spread_small(corpus).selectExpr(
        f"{id_col} AS vid", f"{cd_s(vec_col)} AS v"
    )
    # Deliberately NOT localCheckpoint-ed: vecs/assigned are
    # CORPUS-sized, and pinning a whole corpus in executor memory is
    # the wrong trade at scale — each re-derivation is a map-only
    # parquet scan + one broadcast cross-join stage, which the jobs
    # here (init collect, one per Lloyd sweep, final assignment)
    # re-run independently. Contrast pq.py, which checkpoints only
    # after the plans grow a window + explode chain.
    # init: bounded collect of n_cells rows (the codebook)
    init_rows = (
        vecs.withColumn(
            "h", F.md5(F.concat(F.lit("cent|"), F.col("vid").cast("string")))
        )
        .orderBy("h")
        .limit(n_cells)
        .collect()
    )
    if not init_rows:
        raise ValueError(
            "topk_ivf_deterministic: empty corpus — no centroids to seed"
        )
    cents: list[tuple[int, list[float]]] = [
        (i, list(r["v"])) for i, r in enumerate(init_rows)
    ]
    dim = len(cents[0][1])

    def _cdf(cs):
        return F.broadcast(
            spark.createDataFrame(cs, "cell int, c array<double>")
        )

    def _assign(cs):
        # map-only nearest-cell: first index achieving the MAX cosine
        # == the (cos desc, cell asc) window selection — no
        # crossJoin, no window shuffle. Rendered as ONE SQL expression
        # (litfast text twins — bit-identical folds): the per-node
        # Column builders cost ~60 py4j trips per cosine and were the
        # dominant DRIVER cost of this query on a loaded host.
        coss = (
            f"transform({dlit_s([c for _, c in cs])}, "
            f"_cc -> {cosd_s('v', '_cc')})"
        )
        return vecs.selectExpr(
            "vid", "v",
            f"CAST(array_position({coss}, array_max({coss})) - 1 "
            "AS INT) AS cell",
        )

    for _ in range(lloyd_rounds):
        # bounded hierarchical id-ordered mean fold — no full member
        # lists in any task (the r8 skew-hazard fix; see
        # pq._pinned_hier_mean)
        from solar_logger_spark.operators.pq import _pinned_hier_mean

        means = _pinned_hier_mean(_assign(cents), ["cell"], "v", dim)
        got = {
            r["cell"]: list(r["c"]) for r in means.collect()
        }  # bounded: <= n_cells rows
        cents = [(i, got.get(i, c)) for i, c in cents]

    assigned = _assign(cents)
    qv = queries.selectExpr(
        f"{id_col} AS query_id", f"{cd_s(vec_col)} AS qv"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cell").asc()
    )
    probes = (
        qv.crossJoin(_cdf(cents))
        .withColumn("cos", F.expr(cosd_s("qv", "c")))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vid") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "vid AS neighbor_id",
            f"{cosd_s('qv', 'v')} AS cos_sim",
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
