"""Product quantization (PQ) for embedding columns — the compressed ANN
path for corpora where raw vectors no longer fit the cluster.

A d-dim float vector (4d bytes) becomes m uint8 codes (m bytes,
d/m-dim subspace each): 32× compression at m = d/2. Queries score
compressed codes with ADC (asymmetric distance computation): per query,
one m×ks lookup table of exact subspace distances, then each corpus
vector costs m table lookups instead of d multiplies. Combined with the
IVF coarse quantizer (`similarity.topk_ivf`) this is the standard
billion-scale layout (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public).

Spark shape: codebooks are tiny (m × ks × d/m floats) and train on a
deterministic hash-sampled subset driver-side (standard practice — the
codebook is a model artifact, not data). Encoding and ADC scoring are
Arrow-batched ``mapInPandas`` kernels over broadcast codebooks — pure
numpy inner loops, embarrassingly parallel, no shuffle except the final
top-k.

Vectors are L2-normalized before quantization so L2 ranking ≡ cosine
ranking (1 − cos = ‖a−b‖²/2 on the unit sphere).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solar_logger_spark.operators.litfast import d2_s


def _normalize(mat: "np.ndarray") -> "np.ndarray":
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def _collect_sample(
    df: DataFrame, n: int, id_col: str, vec_col: str
) -> "np.ndarray":
    """Deterministic training sample: the n rows with smallest id hash
    (partition-independent, same sample at any scale)."""
    rows = (
        df.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h", id_col)
        .limit(n)
        .collect()
    )
    return _normalize(
        np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    )


def _lloyd(data: "np.ndarray", k: int, iters: int) -> "np.ndarray":
    """Plain Euclidean k-means on a small in-memory matrix (codebook
    training); deterministic seeding by first-k rows of the hash-ordered
    sample."""
    k = min(k, len(data))
    cents = data[:k].copy()
    for _ in range(iters):
        d2 = ((data[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = data[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def train_codebooks(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    sample_size: int = 2048,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Train the m per-subspace codebooks → array (m, ks, d/m)."""
    sample = _collect_sample(df, sample_size, id_col, vec_col)
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.zeros((m, ks, dsub))
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        got = _lloyd(sub, ks, iters)
        books[j, : len(got)] = got
        if len(got) < ks:  # degenerate tiny corpus: repeat last centroid
            books[j, len(got):] = got[-1]
    return books


def encode(
    df: DataFrame,
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize vectors to PQ codes: ``(id, codes array<int>)`` with one
    uint8-range code per subspace. One map-only pass."""
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks))

    def _enc(batches):
        books = bc.value
        m, ks, dsub = books.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = _normalize(
                np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
            )
            codes = np.empty((len(a), m), dtype=np.int32)
            for j in range(m):
                sub = a[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (sub[:, None, :] - books[j][None, :, :]) ** 2
                ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        _enc, f"{id_col} long, codes array<int>"
    )


def topk_adc(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: "np.ndarray",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    raw: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k neighbors by ADC over PQ codes: exact query ↔
    reconstructed-corpus L2 on the unit sphere (≡ cosine ranking).

    ``rerank > 0`` enables the standard production two-stage retrieval:
    ADC produces a ``rerank``-deep candidate shortlist from the
    compressed codes, then the shortlist alone is re-scored exactly
    against ``raw`` (the uncompressed vectors) — full-precision math on
    k·O(10) candidates per query instead of the whole corpus, which is
    what makes PQ usable when quantization distortion is comparable to
    the neighbor gaps (e.g. near-uniform embeddings).

    Output matches the other ANN operators: (query_id, neighbor_id,
    approx_dist, rank) — smaller distance is nearer (with re-ranking,
    ``approx_dist`` is the exact unit-sphere squared L2). The per-batch
    ADC cost is a numpy table gather, m adds per corpus code.

    Scale shape: only the raw query batch (n_q × d doubles) is
    broadcast; the ADC lookup tables are derived from it once per task,
    executor-side. The kernel keeps a ``cut``-deep running top-k per
    query across its partition's batches, so the |queries| × |corpus|
    score matrix is never materialized — per partition, at most
    n_q × cut rows survive to the final exact top-k shuffle
    (partitions × n_q × cut rows total, vs n_q × |corpus| for the naive
    global-window shape). For very large query batches, chunk the
    ``queries`` frame caller-side; each chunk is an independent scan."""
    import pandas as pd

    spark = encoded.sparkSession
    books = np.asarray(codebooks)
    qrows = queries.select(id_col, vec_col).collect()  # bounded query batch
    qids = np.array([r[id_col] for r in qrows])
    qmat = _normalize(
        np.array([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    )
    m, ks, dsub = books.shape
    cut = rerank if rerank > 0 else k
    bc = spark.sparkContext.broadcast((qids, qmat, books))

    def _score(batches):
        ids, qm, bks = bc.value
        n_q = len(ids)
        if n_q == 0:
            return
        # per-query distance tables: (n_q, m, ks) exact subspace
        # distances, computed from the broadcast raw queries
        tabs = np.empty((n_q, m, ks))
        for j in range(m):
            qsub = qm[:, j * dsub : (j + 1) * dsub]
            tabs[:, j, :] = (
                (qsub[:, None, :] - bks[j][None, :, :]) ** 2
            ).sum(axis=2)
        best_d = best_i = None  # running (n_q, <=cut) top-k
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            n = len(codes)
            # gather: dist[q, i] = Σ_j tabs[q, j, codes[i, j]]
            dist = np.zeros((n_q, n))
            for j in range(m):
                dist += tabs[:, j, :][:, codes[:, j]]
            nids = np.broadcast_to(
                pdf[id_col].to_numpy(), (n_q, n)
            ).copy()
            dist[nids == ids[:, None]] = np.inf  # self-pairs drop out
            if best_d is not None:
                dist = np.concatenate([best_d, dist], axis=1)
                nids = np.concatenate([best_i, nids], axis=1)
            # row-wise selection in the final window's total order:
            # (approx_dist asc, neighbor_id asc)
            order = np.lexsort((nids, dist), axis=-1)[:, :cut]
            best_d = np.take_along_axis(dist, order, axis=1)
            best_i = np.take_along_axis(nids, order, axis=1)
        if best_d is None:
            return
        flat_d = best_d.ravel()
        flat_i = best_i.ravel()
        keep = np.isfinite(flat_d)
        yield pd.DataFrame(
            {
                "query_id": np.repeat(ids, best_d.shape[1])[keep],
                "neighbor_id": flat_i[keep],
                "approx_dist": flat_d[keep],
            }
        )

    scored = encoded.mapInPandas(
        _score, "query_id long, neighbor_id long, approx_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= cut)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )
    if rerank <= 0:
        return shortlist
    if raw is None:
        raise ValueError("rerank > 0 requires the raw vector DataFrame")

    # exact re-scoring of the shortlist: per-query numpy against the
    # candidates' raw vectors (|shortlist| = n_q × rerank rows)
    cand = shortlist.join(
        raw.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
        ),
        "neighbor_id",
    )
    bcq = encoded.sparkSession.sparkContext.broadcast((qids, qmat))

    def _exact(batches):
        import pandas as pd

        ids_, qm = bcq.value
        pos = {int(i): p for p, i in enumerate(ids_)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = _normalize(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            )
            qv = qm[[pos[int(q)] for q in pdf["query_id"]]]
            d = ((a - qv) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "approx_dist": d,
                }
            )

    exact = cand.select("query_id", "neighbor_id", "_v").mapInPandas(
        _exact, "query_id long, neighbor_id long, approx_dist double"
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


# ---------------------------------------------------------------------------
# composed IVF + PQ index (IVFADC): cells + residual codes in one layout
# ---------------------------------------------------------------------------

def build_ivfpq(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    refine_iters: int = 1,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, "np.ndarray", "np.ndarray"]:
    """Build the composed billion-scale index layout (IVFADC, Jégou 2011
    §V): each vector is (a) coarse-quantized to its nearest IVF cell and
    (b) PQ-encoded as the *residual* against that cell's centroid.
    Residual encoding is what makes the composition work — residuals
    concentrate near the origin, so the same ks codes per subspace carve
    a much finer grid than they would over the raw sphere.

    Returns ``(encoded, centroids, codebooks)`` where ``encoded`` is the
    one-layout index DataFrame ``(id, cell, codes)``. At cluster scale
    the encoded frame is written ``partitionBy("cell")`` (see
    ``save_ivfpq``) so a probe touches only its cells' files.

    Deterministic end to end: seeded centroids + hash-sampled PQ
    training, so the same corpus always yields the same index.
    """
    import pandas as pd
    from solar_logger_spark.operators.similarity import (
        ivf_assign, kmeans_refine, seeded_centroids,
    )

    cents = seeded_centroids(corpus, n_cells, id_col, vec_col)
    if refine_iters > 0:
        cents = kmeans_refine(corpus, cents, refine_iters, id_col, vec_col)
    cents = np.asarray(cents, dtype=np.float64)
    cnorm = np.sqrt((cents * cents).sum(axis=1))
    cnorm[cnorm == 0] = 1.0
    cents_unit = cents / cnorm[:, None]

    assigned = ivf_assign(corpus, cents, id_col, vec_col)

    # PQ codebooks are trained on residuals of the deterministic sample
    sample_rows = (
        assigned.withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h", id_col)
        .limit(sample_size)
        .collect()
    )
    smat = _normalize(
        np.array(
            [np.asarray(r[vec_col], dtype=np.float64) for r in sample_rows]
        )
    )
    scell = np.array([r["cell"] for r in sample_rows])
    resid = smat - cents_unit[scell]
    d = resid.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.zeros((m, ks, dsub))
    for j in range(m):
        got = _lloyd(resid[:, j * dsub : (j + 1) * dsub], ks, 5)
        books[j, : len(got)] = got
        if len(got) < ks:
            books[j, len(got):] = got[-1]

    encoded = encode_ivfpq(assigned, cents, books, id_col, vec_col)
    return encoded, cents, books


def encode_ivfpq(
    assigned: DataFrame,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual-PQ-encode vectors that already carry their coarse
    ``cell`` (``similarity.ivf_assign``) against a PINNED model — the
    map-only encode stage of :func:`build_ivfpq`, exposed separately so
    maintained-index deliveries (``streaming.ann_ingest``) can encode
    new vectors without retraining. Output: ``(id, cell, codes)``."""
    import pandas as pd

    spark = assigned.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    cnorm = np.sqrt((cents * cents).sum(axis=1))
    cnorm[cnorm == 0] = 1.0
    books = np.asarray(codebooks, dtype=np.float64)
    bc = spark.sparkContext.broadcast((cents / cnorm[:, None], books))

    def _enc(batches):
        cu, bks = bc.value
        mm, _, ds = bks.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = _normalize(
                np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
            )
            r = a - cu[pdf["cell"].to_numpy()]
            codes = np.empty((len(a), mm), dtype=np.int32)
            for j in range(mm):
                sub = r[:, j * ds : (j + 1) * ds]
                d2 = ((sub[:, None, :] - bks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": pdf["cell"].to_numpy(),
                    "codes": list(codes),
                }
            )

    return assigned.mapInPandas(
        _enc, f"{id_col} long, cell int, codes array<int>"
    )


def topk_ivfpq(
    encoded: DataFrame,
    queries: DataFrame,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    raw: DataFrame | None = None,
) -> DataFrame:
    """Search the composed IVF-PQ index: each query probes its
    ``n_probe`` nearest cells and ADC-scores only those cells' codes
    against a per-(query, cell) residual lookup table. Per-query cost is
    O(N·n_probe/n_cells) table gathers — the IVF pruning and the PQ
    compression compound, which is the whole point of the layout.

    The probed-cell filter is pushed into the scan: the kernel sees only
    rows whose ``cell`` is probed by ≥1 query (``isin`` on a literal
    list → parquet row-group / partition pruning on a cell-partitioned
    index from ``save_ivfpq``). Output and ``rerank`` semantics match
    ``topk_adc``."""
    import pandas as pd

    spark = encoded.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    cnorm = np.sqrt((cents * cents).sum(axis=1))
    cnorm[cnorm == 0] = 1.0
    cents_unit = cents / cnorm[:, None]
    books = np.asarray(codebooks)
    m, ks, dsub = books.shape

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[id_col] for r in qrows])
    qmat = _normalize(
        np.array([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    )
    sims = qmat @ cents_unit.T
    probe = np.argsort(-sims, axis=1)[:, :n_probe]  # (n_q, n_probe)

    # per-(query, probed cell) ADC tables over the query's residual in
    # that cell: tables[q][p] is (m, ks)
    tables = np.empty((len(qids), n_probe, m, ks))
    for p in range(n_probe):
        r = qmat - cents_unit[probe[:, p]]
        for j in range(m):
            rsub = r[:, j * dsub : (j + 1) * dsub]
            tables[:, p, j, :] = (
                (rsub[:, None, :] - books[j][None, :, :]) ** 2
            ).sum(axis=2)

    # cell → [(query position, table index)] routing map
    routing: dict[int, list[tuple[int, int]]] = {}
    for qi in range(len(qids)):
        for p in range(n_probe):
            routing.setdefault(int(probe[qi, p]), []).append((qi, p))
    cut = rerank if rerank > 0 else k
    bc = spark.sparkContext.broadcast((qids, tables, routing))

    def _score(batches):
        ids_, tabs, route = bc.value
        # per-query running top-cut across this partition's batches —
        # the probed-cell score stream never materializes beyond
        # n_q × cut survivors per partition
        best: dict[int, tuple["np.ndarray", "np.ndarray"]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for cell, grp in pdf.groupby("cell"):
                hits = route.get(int(cell))
                if not hits:
                    continue
                codes = np.array(list(grp["codes"]), dtype=np.int64)
                nids = grp[id_col].to_numpy()
                for qi, p in hits:
                    t = tabs[qi, p]  # (m, ks)
                    dist = np.zeros(len(codes))
                    for j in range(m):
                        dist += t[j][codes[:, j]]
                    mask = nids != ids_[qi]  # drop self-pair
                    d, i = dist[mask], nids[mask]
                    prev = best.get(qi)
                    if prev is not None:
                        d = np.concatenate([prev[0], d])
                        i = np.concatenate([prev[1], i])
                    if len(d) > 4096:  # amortize the sort-and-cut
                        # final window's total order: dist asc, id asc
                        order = np.lexsort((i, d))[:cut]
                        d, i = d[order], i[order]
                    best[qi] = (d, i)
        if best:
            outs_d, outs_i, counts = [], [], []
            for qi, (d, i) in best.items():
                order = np.lexsort((i, d))[:cut]
                outs_d.append(d[order])
                outs_i.append(i[order])
                counts.append(len(order))
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids_[list(best)], counts),
                    "neighbor_id": np.concatenate(outs_i),
                    "approx_dist": np.concatenate(outs_d),
                }
            )

    probed_cells = sorted(routing)
    scored = encoded.filter(F.col("cell").isin(probed_cells)).mapInPandas(
        _score, "query_id long, neighbor_id long, approx_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= cut)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )
    if rerank <= 0:
        return shortlist
    if raw is None:
        raise ValueError("rerank > 0 requires the raw vector DataFrame")

    cand = shortlist.join(
        raw.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
        ),
        "neighbor_id",
    )
    bcq = spark.sparkContext.broadcast((qids, qmat))

    def _exact(batches):
        ids_, qm = bcq.value
        pos = {int(i): p for p, i in enumerate(ids_)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = _normalize(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            )
            qv = qm[[pos[int(q)] for q in pdf["query_id"]]]
            d = ((a - qv) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "approx_dist": d,
                }
            )

    exact = cand.select("query_id", "neighbor_id", "_v").mapInPandas(
        _exact, "query_id long, neighbor_id long, approx_dist double"
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


# ---------------------------------------------------------------------------
# index persistence: codes partitioned by cell + model arrays as parquet
# ---------------------------------------------------------------------------

def save_ivfpq(
    encoded: DataFrame,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Persist the composed index: ``path/codes`` parquet
    ``partitionBy("cell")`` (so a search's probed-cell ``isin`` filter
    becomes directory-level partition pruning — only n_probe/n_cells of
    the bytes are read), ``path/centroids`` and ``path/codebooks`` as
    tiny parquet model tables. Everything round-trips bit-exactly:
    float64 arrays stored as array<double> rows keyed for deterministic
    reassembly."""
    spark = encoded.sparkSession
    encoded.select(id_col, "cell", "codes").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/codes")
    cents = np.asarray(centroids, dtype=np.float64)
    spark.createDataFrame(
        [(int(i), [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cell int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    books = np.asarray(codebooks, dtype=np.float64)
    m, ks, _ = books.shape
    spark.createDataFrame(
        [
            (int(j), int(c), [float(x) for x in books[j, c]])
            for j in range(m)
            for c in range(ks)
        ],
        "subspace int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def load_ivfpq(
    spark: SparkSession, path: str, id_col: str = "vec_id"
) -> tuple[DataFrame, "np.ndarray", "np.ndarray"]:
    """Load a persisted IVF-PQ index → ``(encoded, centroids,
    codebooks)`` ready for ``topk_ivfpq``. The codes scan stays lazy and
    cell-partitioned; only the small model tables are collected."""
    encoded = spark.read.parquet(f"{path}/codes").select(
        id_col, F.col("cell").cast("int"), "codes"
    )
    crows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.array(
        [
            np.asarray(r["vec"], dtype=np.float64)
            for r in sorted(crows, key=lambda r: r["cell"])
        ]
    )
    brows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["subspace"] for r in brows)
    ks = 1 + max(r["code"] for r in brows)
    dsub = len(brows[0]["vec"])
    books = np.zeros((m, ks, dsub))
    for r in brows:
        books[r["subspace"], r["code"]] = np.asarray(
            r["vec"], dtype=np.float64
        )
    return encoded, cents, books


# -- shared deterministic-codebook machinery ---------------------------------
# ONE copy of every determinism-critical construction (md5-seeded init
# window, argmin tie-break, pinned member-order mean fold, ADC tail) so
# a fold/tie-break fix lands in both PQ variants at once — each Spark
# shape here is mirrored by the ANN_PQ_SQL / ANN_IVFPQ_SQL twins.

def _vec_dim(df, vec_col: str, op: str) -> int:
    """Embedding width from the first row, with a named error instead
    of the opaque ``NoneType has no len`` on an empty frame or a null
    first vector (ADVICE r8)."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        what = "empty input" if row is None else f"null {vec_col!r} vector"
        raise ValueError(
            f"{op}: cannot infer embedding dimension from {what}"
        )
    return len(row[0])


def _unit_rows(df, id_col, vec_col, out_id, out_vec):
    """(id, unit-normalized double vector): cast per element, norm as a
    pinned fold, exact per-element division — identical ops on corpus
    and query sides, so shared vectors get identical bits. Built from
    the litfast SQL-text twins (bit-identical expressions, one parse
    round trip per select instead of one per node)."""
    from solar_logger_spark.operators.litfast import cd_s, dot_s

    return (
        df.selectExpr(
            f"{id_col} AS {out_id}", f"{cd_s(vec_col)} AS {out_vec}"
        )
        .selectExpr(
            "*", f"SQRT({dot_s(out_vec, out_vec)}) AS _nrm"
        )
        .selectExpr(
            out_id,
            f"transform({out_vec}, _ux -> _ux / _nrm) AS {out_vec}",
        )
    )


def _subspace_rows(frame, vec_col, m, dsub, out_sub, keep):
    """One row per (row, subspace): explode ms in [0, m), slice the
    dsub-wide subvector."""
    return frame.select(
        *keep, vec_col,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("ms"),
    ).select(
        *keep, "ms",
        F.slice(F.col(vec_col), F.col("ms") * dsub + 1, dsub).alias(out_sub),
    )


def _books_init(subs, prefix, ks, with_ids: bool = False):
    """Per-subspace codebook init: the ks subvectors with the smallest
    md5(prefix|ms|vid) per ms; code = hash order. Bounded collect of
    m*ks rows. ``with_ids=True`` also returns the seed vids — the ids
    whose raw subvectors the init entries ARE (what a maintained
    index's forget sweep must treat as model residue)."""
    wm = Window.partitionBy("ms").orderBy("h")
    rows = (
        subs.withColumn(
            "h",
            F.md5(F.concat(
                F.lit(prefix), F.col("ms").cast("string"), F.lit("|"),
                F.col("vid").cast("string"),
            )),
        )
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= ks)
        .select("ms", (F.col("rn") - 1).alias("code"), "sub", "vid")
        .collect()
    )
    books = {(r["ms"], r["code"]): list(r["sub"]) for r in rows}
    if with_ids:
        return books, sorted({r["vid"] for r in rows})
    return books


def _books_bdf(spark, books):
    return F.broadcast(spark.createDataFrame(
        [(msi, code, c) for (msi, code), c in sorted(books.items())],
        "ms int, code int, c array<double>",
    ))


def _books_lit_s(books) -> str:
    """The codebook as ONE nested array-literal SQL string,
    [ms+1][code+1] → centroid — what lets assignment run as a map-only
    projection, composed into a single parsed expression (litfast;
    the per-element ``F.lit`` form profiled at 12 s/call of pure
    driver time)."""
    from solar_logger_spark.operators.litfast import dlit_s

    mss = sorted({msi for msi, _ in books})
    return dlit_s([
        [
            books[(msi, cd)]
            for cd in range(
                max(c for m2, c in books if m2 == msi) + 1
            )
        ]
        for msi in mss
    ])


def _encode(subs, books, keep):
    """Nearest-code assignment per (vid, ms): pinned-fold squared L2,
    ties to the lowest code. Map-only: per row, fold the d2 against
    each code of the row's subspace (codebook inlined as a literal)
    and take the FIRST index achieving the minimum — exactly the
    (d2 asc, code asc) window selection, without the broadcast-join
    row inflation or the window shuffle (measured ~2x on the bench
    registry). The SQL twins' join+row_number shape selects the same
    rows from the same bits, so they stay untouched."""
    d2s = (
        f"transform(element_at({_books_lit_s(books)}, ms + 1), "
        f"_bc -> {d2_s('sub', '_bc')})"
    )
    return subs.selectExpr(
        *keep, "ms",
        f"CAST(array_position({d2s}, array_min({d2s})) - 1 AS INT) "
        "AS code",
        "sub",
    )


def _pinned_hier_mean(frame, keys, vec_col, width, block=256):
    """Per-key mean of double-array columns with a deterministic,
    BOUNDED, hierarchical fold — the distributed replacement for the
    r8 full per-key member-list materialization (a hot cell's
    ``collect_list`` of every member vector was the one remaining
    100×-scale skew/OOM hazard). THREE order-pinned levels (r11 —
    previously two; the second level concentrated O(N/block)
    partial-sum structs on a hot key, the last named skew residual):
    members fold in ``vid`` order WITHIN an id block (``vid DIV
    block`` — ≤ ``block`` rows per group), block partials fold in
    block order WITHIN a superblock (``b DIV block`` — ≤ ``block``
    structs per group), superblock partials fold in superblock order.
    Levels 1–2 are constant-bounded per task; the final level holds
    O(N / block²) structs — at ``block=256`` a key needs > 2²⁴
    member ids before the top fold even exceeds 256 entries, and a
    10¹⁰-id hot key tops out near 1.5×10⁵ structs (a few tens of MB
    at trainer widths), comfortably inside one task. Same recipe as
    :func:`solar_logger_spark.operators.pca.pca_fit_deterministic`,
    and each level is replayed verbatim by the ANN SQL twins
    (``list(... ORDER BY vid)`` per ``vid // block`` group,
    ``list(s ORDER BY b)`` per ``b // block`` group, then
    ``list(s2 ORDER BY sb)``), so the result stays cross-engine
    bit-identical AND partition-invariant. Input must carry ``vid``;
    returns one row per key with the mean array as ``c``."""
    # SQL-text twins (litfast): each level's fold is the IDENTICAL
    # expression the Column builders assembled (same zip_with adds in
    # the same order over the same array_sort'ed member lists), parsed
    # in one round trip per select — this helper sits inside every
    # trainer loop, so its per-node construction cost was paid several
    # times per ANN query build.
    z = f"array_repeat(0.0D, {int(width)})"

    def zfold(arr: str, field: str) -> str:
        return (
            f"aggregate({arr}, {z}, (_ac, _t) -> "
            f"zip_with(_ac, _t.{field}, (_za, _zb) -> _za + _zb))"
        )

    per_block = (
        frame.withColumn("_b", F.expr(f"vid DIV {block}"))
        .groupBy(*keys, "_b")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vid", vec_col))
            ).alias("_ms")
        )
        .selectExpr(
            *keys, "_b",
            f"{zfold('_ms', vec_col)} AS _s",
            "size(_ms) AS _cnt",
        )
    )
    per_super = (
        per_block.withColumn("_sb", F.expr(f"_b DIV {block}"))
        .groupBy(*keys, "_sb")
        .agg(
            F.array_sort(F.collect_list(F.struct("_b", "_s"))).alias("_bl"),
            F.sum("_cnt").alias("_scnt"),
        )
        .selectExpr(
            *keys, "_sb",
            f"{zfold('_bl', '_s')} AS _s2",
            "_scnt",
        )
    )
    return (
        per_super.groupBy(*keys)
        .agg(
            F.array_sort(F.collect_list(F.struct("_sb", "_s2"))).alias("_sl"),
            F.sum("_scnt").alias("_n"),
        )
        .selectExpr(
            *keys,
            f"transform({zfold('_sl', '_s2')}, _tx -> _tx / _n) AS c",
        )
    )


def _books_lloyd(spark, subs, books, dsub, rounds):
    """Fixed Lloyd sweeps over the per-subspace codebooks: assignment
    by :func:`_encode`, means via the bounded hierarchical id-ordered
    fold (:func:`_pinned_hier_mean`); empty codes keep their previous
    centroid."""
    for _ in range(rounds):
        means = _pinned_hier_mean(
            _encode(subs, books, ["vid"]), ["ms", "code"], "sub", dsub
        )
        got = {
            (r["ms"], r["code"]): list(r["c"]) for r in means.collect()
        }  # bounded: <= m*ks rows
        books = {key: got.get(key, c) for key, c in books.items()}
    return books


def _adc_rank_tail(codes, dtab, qn, vn, rerank, k, join_cols):
    """ADC sum (subspace-order fold) -> rerank-deep shortlist -> exact
    unit-sphere squared-L2 re-rank -> dense ranks. ``join_cols`` is
    ["ms", "code"] for flat PQ and ["cell", "ms", "code"] for IVFADC
    (per-probed-cell residual tables)."""
    approx = (
        codes.join(F.broadcast(dtab), join_cols)
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(ms, d2))), "
                "0.0D, (_ac, _t) -> _ac + _t.d2)"
            ).alias("adc")
        )
    )
    cut = max(rerank, k)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        approx.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= cut)
        .select("query_id", "neighbor_id")
    )
    rescored = (
        shortlist.join(
            vn.select(F.col("vid").alias("neighbor_id"), F.col("v").alias("cv")),
            "neighbor_id",
        )
        .join(F.broadcast(qn), "query_id")
        .selectExpr(
            "query_id", "neighbor_id",
            f"{d2_s('qv', 'cv')} AS approx_dist",
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


def topk_pq_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    rerank: int = 400,
    lloyd_rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC top-k whose codebook training, encoding, and scoring are
    all deterministic and cross-engine re-derivable — the
    hash-verifiable sibling of :func:`train_codebooks` +
    :func:`topk_adc` (the same JL-vs-PCA split as
    ``similarity.topk_ivf_deterministic``): per-subspace centroid INIT
    is the ``ks`` subvectors with the smallest ``md5('pq|'||m||'|'||id)``
    (code = hash order), each of the fixed ``lloyd_rounds`` sweeps
    assigns by dimension-order-folded squared L2 (ties to the lowest
    code) and recomputes means with the addition order pinned to
    member-id order, and ADC sums the per-subspace distances in
    subspace order. Vectors are L2-normalized first (exact divisions),
    so L2 ranking ≡ cosine ranking, matching the numpy path's
    contract. Queries are normalized from their OWN vectors — they
    need not exist in the corpus. Output: (query_id, neighbor_id,
    approx_dist, rank) with ``approx_dist`` the EXACT unit-sphere
    squared L2 after the ``rerank``-deep shortlist re-rank — same
    shape as :func:`topk_adc`.

    Scale: the codebook is ≤ m·ks rows (two bounded collects); ADC is
    a broadcast of the |queries|·m·ks distance table against the
    encoded corpus; the pinned per-(m,code) means fold hierarchically
    over bounded 256-id blocks (:func:`_pinned_hier_mean` — no full
    member list in any task; :func:`train_codebooks`'s sampled numpy
    Lloyd remains the throughput trainer)."""
    from solar_logger_spark.operators.spread import spread_small

    spark = corpus.sparkSession
    # single-file corpus scans arrive as ONE partition; every fold
    # below (normalize, encode distance chains, ADC) is map-side and
    # order-pinned, so spreading is free for results and turns the
    # trainer's interpreted-HOF stages multi-core (guide §2.5)
    vn = _unit_rows(spread_small(corpus), id_col, vec_col, "vid", "v")
    dim = _vec_dim(corpus, vec_col, "topk_pq_deterministic")
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    # subvectors: one row per (vid, subspace). Checkpointed: the frame
    # feeds the init collect, each Lloyd sweep, AND the final encode —
    # without a barrier every job re-runs the upstream normalize+explode
    # (the Catalyst no-subplan-dedup lesson). Lazy: the init collect
    # right below scans every partition (orderBy+limit), so it
    # materializes the checkpoint as a side effect — one fewer
    # scheduler job than an eager checkpoint, same compute-once.
    subs = _subspace_rows(vn, "v", m, dsub, "sub", ["vid"]).localCheckpoint(
        eager=False
    )
    books = _books_init(subs, "pq|", ks)
    books = _books_lloyd(spark, subs, books, dsub, lloyd_rounds)
    codes = _encode(subs, books, ["vid"]).select(
        "vid", "ms", "code"
    )

    qn = _unit_rows(queries, id_col, vec_col, "query_id", "qv")
    qsubs = _subspace_rows(qn, "qv", m, dsub, "qsub", ["query_id"])
    # ADC tables: |queries| * m * ks exact subspace distances
    dtab = qsubs.join(_books_bdf(spark, books), "ms").selectExpr(
        "query_id", "ms", "code",
        f"{d2_s('qsub', 'c')} AS d2",
    )
    return _adc_rank_tail(codes, dtab, qn, vn, rerank, k, ["ms", "code"])


def topk_ivfpq_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 8,
    m: int = 8,
    ks: int = 16,
    rerank: int = 400,
    lloyd_rounds: int = 1,
    coarse_rounds: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (IVFADC) top-k with fully deterministic, cross-engine
    re-derivable training — the hash-verifiable sibling of
    :func:`build_ivfpq` + :func:`topk_ivfpq`: the coarse codebook is
    md5-seeded (+ ``coarse_rounds`` pinned-fold Lloyd sweeps, default
    ``lloyd_rounds``) over the normalized vectors, residuals are exact
    element-wise subtractions, the per-subspace residual codebooks are
    md5-seeded the same way, and ADC sums per-(query, cell) subspace
    distances in subspace order. Assignment and probe ordering use
    dimension-order-folded squared L2 with ties to the lowest
    cell/code. Queries are normalized from their OWN vectors — they
    need not exist in the corpus. Output: (query_id, neighbor_id,
    approx_dist, rank) — exact unit-sphere squared L2 after the
    shortlist re-rank, same shape as :func:`topk_ivfpq`.

    The numpy :func:`build_ivfpq`/:func:`topk_ivfpq` pair remains the
    throughput path; this is the reproducible-build/oracle trainer
    (same split as ``topk_pq_deterministic``). The coarse stage shares
    its SHAPE with ``similarity.topk_ivf_deterministic`` but not code:
    that operator ranks by pinned-fold cosine over raw vectors, this
    one by pinned-fold L2 over unit vectors — the metrics diverge on
    purpose (each mirrors its own SQL twin)."""
    from solar_logger_spark.operators.spread import spread_small

    spark = corpus.sparkSession
    # spread the single-partition corpus scan before the pinned folds
    # (same rationale as topk_pq_deterministic)
    vn = _unit_rows(spread_small(corpus), id_col, vec_col, "vid", "v")
    if coarse_rounds is None:
        coarse_rounds = lloyd_rounds

    # ---- coarse quantizer: md5-seeded centroids over vn, pinned L2 --
    init_rows = (
        vn.withColumn(
            "h", F.md5(F.concat(F.lit("ivfpq|"), F.col("vid").cast("string")))
        )
        .orderBy("h").limit(n_cells).collect()
    )  # bounded: n_cells rows
    if not init_rows:
        raise ValueError("topk_ivfpq_deterministic: empty corpus")
    # dim from the seed rows — saves the separate _vec_dim head() job
    # (one scheduler round-trip per call; same one-row sample)
    dim = len(init_rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    cents = [(i, list(r["v"])) for i, r in enumerate(init_rows)]

    def _cents_lit_s(cs) -> str:
        from solar_logger_spark.operators.litfast import dlit_s

        return dlit_s([c for _, c in cs])

    def _assign(cs):
        # map-only nearest cell (r12): fold the pinned d2 against each
        # centroid of the inlined codebook and take the FIRST index
        # achieving the minimum — exactly the (d2 asc, cell asc)
        # window selection, without the crossJoin's n_cells-fold row
        # inflation or the window's full-corpus shuffle (the same
        # conversion _encode and similarity.topk_ivf_deterministic's
        # coarse stage already carry).
        #
        # The `+ 0 * rand` term is a constraint-propagation firewall,
        # not arithmetic: it adds exactly 0 (rand(0)*0 == 0.0, cast to
        # int) but flags the alias NON-deterministic, so Catalyst
        # records no `cell = <argmin fold over v>` equality constraint.
        # Without it, constraint inference at the downstream ADC join
        # mis-computes the higher-order fold's references and pushes
        # that equality into the QUERY side of the plan, where `v`
        # cannot bind (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND under a
        # vanilla driver session). Values and retries are unaffected —
        # the term is identically zero.
        d2s = (
            f"transform({_cents_lit_s(cs)}, "
            f"_cc -> {d2_s('v', '_cc')})"
        )
        return vn.selectExpr(
            "vid", "v",
            f"CAST(array_position({d2s}, array_min({d2s})) - 1 AS INT)"
            " + CAST(rand(0) * 0 AS INT) AS cell",
        )

    for _ in range(coarse_rounds):
        means = _pinned_hier_mean(_assign(cents), ["cell"], "v", dim)
        got = {
            r["cell"]: list(r["c"]) for r in means.collect()
        }  # bounded: <= n_cells rows
        cents = [(i, got.get(i, c)) for i, c in cents]

    # residuals, then per-(vid, subspace) residual subvectors.
    # Checkpointed at the (vid, v, cell) stage: the barrier stops the
    # residual-codebook init collect, each Lloyd sweep, and the final
    # encode from re-running the coarse assignment; the residual
    # subtraction + subspace explode below it are map-only and cheap
    # to replay per job (and checkpointing BEFORE v is projected away
    # keeps the `cell = argmin(...v...)` alias constraint's references
    # inside the checkpoint output — a checkpoint after the projection
    # carries the dangling `v` reference in its origin constraints,
    # which constraint propagation then pushes across the ADC join
    # into the query side, where it cannot bind). Lazy: the init
    # collect scans every partition, materializing the checkpoint as
    # a side effect (one fewer job than eager). Residual subtraction
    # reads the assigned cell's centroid straight out of the same
    # literal (identical bits to the broadcast-join form: both sides
    # carry the same python floats), keeping the residual build inside
    # one map stage.
    assigned = _assign(cents).localCheckpoint(eager=False)
    resid = assigned.selectExpr(
        "vid", "cell",
        f"zip_with(v, element_at({_cents_lit_s(cents)}, cell + 1), "
        "(_za, _zb) -> _za - _zb) AS r",
    )
    rsubs = _subspace_rows(resid, "r", m, dsub, "sub", ["vid", "cell"])

    books = _books_init(rsubs, "ivfpq|", ks)
    books = _books_lloyd(spark, rsubs, books, dsub, lloyd_rounds)
    codes = _encode(rsubs, books, ["vid", "cell"]).select(
        "vid", "cell", "ms", "code"
    )

    # ---- query side: probe cells, residual ADC ----------------------
    # Map-only probe selection (r12): per query, sort (d2, cell)
    # structs — lexicographic struct order IS the (d2 asc, cell asc)
    # window order — and explode the first n_probe. No crossJoin row
    # inflation, no window exchange; residuals read the probed cell's
    # centroid from the same literal (same bits as the joined column).
    qn = _unit_rows(queries, id_col, vec_col, "query_id", "qv")
    cl_s = _cents_lit_s(cents)
    pairs = (
        f"zip_with(transform({cl_s}, _cc -> {d2_s('qv', '_cc')}), "
        f"sequence(0, {len(cents) - 1}), "
        "(_pd, _pi) -> struct(_pd AS d2, _pi AS cell))"
    )
    probes = (
        qn.selectExpr(
            "query_id", "qv",
            f"explode(slice(array_sort({pairs}), 1, {int(n_probe)})) "
            "AS p",
        )
        .selectExpr(
            "query_id",
            "CAST(p.cell AS INT) AS cell",
            f"zip_with(qv, element_at({cl_s}, p.cell + 1), "
            "(_za, _zb) -> _za - _zb) AS qr",
        )
    )
    qrsubs = _subspace_rows(
        probes, "qr", m, dsub, "qsub", ["query_id", "cell"]
    )
    dtab = qrsubs.join(_books_bdf(spark, books), "ms").selectExpr(
        "query_id", "cell", "ms", "code",
        f"{d2_s('qsub', 'c')} AS d2",
    )
    return _adc_rank_tail(
        codes, dtab, qn, vn, rerank, k, ["cell", "ms", "code"]
    )
