"""Distributed PCA / whitening for embedding columns.

The standard pre-ANN transform (center, rotate to principal axes,
optionally scale by 1/sqrt(eigenvalue)): shrinks dimensionality before
IVF/PQ and equalizes axis variances so Euclidean/cosine structure is
better conditioned. Public algorithm (Pearson 1901; same topology as
Spark ML's PCA).

Fit is ONE map-only scan: each partition emits its partial
``(n, Σx, ΣxxT)`` moments from an Arrow-batched numpy kernel; the
driver reduces the (partitions × dim × dim) partials — tiny for
embedding dims — in partition-id order (deterministic float
association, same discipline as ``similarity.kmeans_refine``), forms
the covariance, and eigendecomposes with numpy. No vector ever
shuffles. Projection is a second map-only pass with the (k × dim)
component matrix broadcast.

Rows-only on the oracle side (eigendecomposition is not SQL);
correctness is pinned in tests/test_pca.py against single-node numpy
PCA on the same data (exact subspace match) plus invariants
(orthonormality, descending explained variance).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA; returns ``(mean [dim], components [k, dim],
    explained_ratio [k])``. Components are sign-fixed (largest-|entry|
    positive) so results are deterministic across runs and libraries."""
    import pandas as pd

    data = df.select(vec_col)

    def _partials(batches):
        from pyspark import TaskContext

        n = 0
        s = None
        ss = None
        for pdf in batches:
            a = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(a) == 0:
                continue
            if s is None:
                dim = a.shape[1]
                s = np.zeros(dim)
                ss = np.zeros((dim, dim))
            n += len(a)
            s += a.sum(axis=0)
            ss += a.T @ a
        if s is None:
            return
        pid = TaskContext.get().partitionId()
        dim = len(s)
        yield pd.DataFrame(
            {
                "pid": pid,
                "row": np.arange(dim, dtype="int32"),
                "xx_row": list(ss),
                "x": s,
                "n": n,
            }
        )

    rows = data.mapInPandas(
        _partials, "pid int, row int, xx_row array<double>, x double, n long"
    ).collect()
    if not rows:
        raise ValueError("pca_fit: empty input")
    dim = max(r["row"] for r in rows) + 1
    ss = np.zeros((dim, dim))
    s = np.zeros(dim)
    n = 0
    seen = set()
    for r in sorted(rows, key=lambda r: (r["pid"], r["row"])):
        ss[r["row"]] += np.asarray(r["xx_row"], dtype=np.float64)
        s[r["row"]] += r["x"]
        if r["pid"] not in seen:
            seen.add(r["pid"])
            n += r["n"]
    if n < 2:
        raise ValueError(f"pca_fit: need >= 2 vectors, got {n}")
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, dim)
    # deterministic sign: largest-|entry| coordinate made positive
    for i in range(len(comps)):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.trace(cov))
    ratio = np.maximum(evals[order], 0.0) / total_var if total_var > 0 else (
        np.zeros(len(order))
    )
    return mean, comps, ratio


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten_scale: np.ndarray | None = None,
    out_col: str = "proj",
) -> DataFrame:
    """Project (and optionally whiten) every vector onto the fitted
    components: one broadcast + one Arrow-batched map, no shuffle.
    ``whiten_scale`` (typically 1/sqrt(eigenvalues)) multiplies each
    output coordinate."""
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (
            np.asarray(mean, dtype=np.float64),
            np.asarray(components, dtype=np.float64),
            None
            if whiten_scale is None
            else np.asarray(whiten_scale, dtype=np.float64),
        )
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def _proj(batches):
        mu, w, scale = bc.value
        for pdf in batches:
            a = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(a) == 0:
                continue
            p = (a - mu) @ w.T
            if scale is not None:
                p = p * scale
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(p)})

    return df.select(id_col, vec_col).mapInPandas(
        _proj, f"{id_col} {id_type}, {out_col} array<double>"
    )


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
    dim: int = 64,
    seed: int = 31,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection — the training-free
    sibling of :func:`pca_project` (JL 1984; dense sub-Gaussian
    variant, Achlioptas JCSS 2003): project each embedding onto
    ``out_dim`` fixed random directions, scaled by ``sqrt(3/out_dim)``
    so uniform[-1,1) coefficients (variance 1/3) preserve expected
    squared norms. The standard cheap pre-ANN compression when no
    training pass is wanted.

    Unlike PCA (eigendecomposition — engine-bound, rows-only oracle),
    this is FULLY hash-comparable: the projection matrix is the same
    md5-derived coefficient grid as ``similarity._plane_literals``
    (every derivation step IEEE-exact or identically rounded across
    engines), and each output coordinate is a left-to-right
    ``zip_with``/``aggregate`` fold — the association DuckDB's
    ``list_sum`` replays. Output is scalar ``jl0..jl{k-1}`` columns
    (the PCA r5 lesson: array outputs crash the driver canonicalizer).

    Scale shape: map-only JVM expressions, no shuffle, no Python; the
    matrix is out_dim x dim literals folded into the plan."""
    from solar_logger_spark.operators.similarity import _plane_literals

    planes = _plane_literals(out_dim, dim, seed)
    from solar_logger_spark.operators.litfast import dlit_s, dot_s

    scale = f"SQRT(3.0D / {float(out_dim)!r}D)"
    # fail fast on a length mismatch: zip_with pads the shorter array
    # with nulls, which would silently poison every fold to NULL
    vec = (
        f"CASE WHEN size({vec_col}) = {dim} "
        f"THEN CAST({vec_col} AS ARRAY<DOUBLE>) "
        f"ELSE raise_error(concat("
        f"'jl_project: expected {dim}-dim embeddings, got ', "
        f"CAST(size({vec_col}) AS STRING))) END"
    )
    cols = [id_col]
    for j, w in enumerate(planes):
        cols.append(f"({dot_s(vec, dlit_s(w))} * {scale}) AS jl{j}")
    return df.selectExpr(*cols)


def pca_fit_deterministic(
    df: DataFrame,
    k: int = 8,
    iters: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 256,
) -> tuple[list, list, list, float]:
    """PCA fit whose every float is deterministic and cross-engine
    re-derivable — the hash-verifiable sibling of :func:`pca_fit` (the
    same split as the deterministic IVF/PQ trainers): a SQL engine
    running the identical operation sequence produces bit-identical
    components, so the ``embedding_pca_project`` declared query can be
    value-hash-checked instead of rows-only.

    * **Moments** (mean, scatter matrix) are hierarchical pinned
      folds: rows fold WITHIN a block (``id DIV block``) in id order,
      block partials fold in block order within a superblock
      (``b DIV block``), superblock partials fold in superblock order
      — deterministic float association AND distributed with every
      intermediate task bounded at ``block`` entries (final fold:
      O(N/block²) array adds). No DECIMAL trick exists for float32
      products, so pinned folds are the whole story.
    * **Eigenvectors** come from ``iters`` fixed power-iteration steps
      per component with deflation, seeded by md5-derived start
      vectors — driver-side pure Python over the collected scatter
      matrix (dim² doubles, bounded): Python floats ARE IEEE doubles,
      so a DuckDB recursive CTE replaying the same matvec/normalize/
      deflate sequence lands on the same bits. Convergence quality is
      pinned vs numpy ``eigh`` in tests (subspace alignment), but
      cross-engine agreement never depends on convergence.
    * Sign fix: component flipped so its largest-|entry| coordinate
      (first on ties) is positive — comparisons on identical bits.

    Returns ``(mean [dim], components [k][dim], evals [k], trace)``
    as plain Python lists/floats — scatter-matrix eigenvalues (no
    divisor: eigenvectors are divisor-invariant and the ratio
    ``sum(evals)/trace`` cancels it).
    """
    import hashlib
    import math

    from solar_logger_spark.operators.litfast import cd_s, dlit_s
    from solar_logger_spark.operators.spread import spread_small

    # spread a single-partition scan: the scatter fold below builds a
    # dim^2 outer-product array PER ROW through interpreted HOFs — one
    # task otherwise (guide §2.5); the hier folds pin order explicitly
    vecs = spread_small(df).selectExpr(
        f"{id_col} AS vid", f"{cd_s(vec_col)} AS v"
    )
    from solar_logger_spark.operators.pq import _vec_dim

    dim = _vec_dim(df, vec_col, "pca_fit_deterministic")

    def _hier_fold(frame, arr_col, width):
        """blocks (id order) -> block partials (block order, within a
        superblock) -> superblock partials (superblock order) -> one
        array; returns the single collected row's array + row count.
        Three levels (r11, matching ``pq._pinned_hier_mean``): this
        fold has ONE key — the whole corpus — so a two-level form
        concentrated O(N/block) structs in the single final task;
        the middle level bounds it at ``block`` structs per task and
        leaves O(N/block²) for the top. Fold expressions rendered as
        SQL text (litfast — identical trees, one parse each)."""
        z = f"array_repeat(0.0D, {int(width)})"

        def zfold(arr: str, field: str) -> str:
            return (
                f"aggregate({arr}, {z}, (_ac, _t) -> "
                f"zip_with(_ac, _t.{field}, (_za, _zb) -> _za + _zb))"
            )

        per_block = (
            frame.withColumn("b", F.expr(f"vid DIV {block}"))
            .groupBy("b")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("vid", arr_col))
                ).alias("ms")
            )
            .selectExpr(
                "b",
                f"{zfold('ms', arr_col)} AS s",
                "size(ms) AS cnt",
            )
        )
        per_super = (
            per_block.withColumn("sb", F.expr(f"b DIV {block}"))
            .groupBy("sb")
            .agg(
                F.array_sort(F.collect_list(F.struct("b", "s"))).alias("bl"),
                F.sum("cnt").alias("scnt"),
            )
            .selectExpr(
                "sb",
                f"{zfold('bl', 's')} AS s2",
                "scnt",
            )
        )
        row = (
            per_super.groupBy()
            .agg(
                F.array_sort(F.collect_list(F.struct("sb", "s2"))).alias("sl"),
                F.sum("scnt").alias("n"),
            )
            .selectExpr(
                f"{zfold('sl', 's2')} AS total",
                "n",
            )
            .collect()[0]
        )  # bounded: one row, `width` doubles
        return list(row["total"]), int(row["n"])

    sums, n = _hier_fold(vecs, "v", dim)
    mean = [s / n for s in sums]

    cent = vecs.selectExpr(
        "vid",
        f"zip_with(v, {dlit_s(mean)}, (_za, _zb) -> _za - _zb) AS c",
    )
    outer = cent.selectExpr(
        "vid",
        "flatten(transform(c, _oa -> transform(c, _ob -> _oa * _ob))) "
        "AS o",
    )
    cflat, _ = _hier_fold(outer, "o", dim * dim)

    # ---- driver-side power iteration + deflation (pure Python) ------
    def seed(c):
        out = []
        for d in range(dim):
            key = f"pca|{c}|{d}".encode()
            h = int(hashlib.md5(key).hexdigest()[:15], 16)
            out.append(h / 2.0**60 * 2.0 - 1.0)
        return out

    def matvec(cf, v):
        out = []
        for i in range(dim):
            s = 0.0
            for j in range(dim):
                s += cf[i * dim + j] * v[j]
            out.append(s)
        return out

    def fold_sum(xs):
        s = 0.0
        for x in xs:
            s += x
        return s

    trace = fold_sum([cflat[i * dim + i] for i in range(dim)])
    cf = list(cflat)
    comps, evals = [], []
    for c in range(k):
        v = seed(c)
        for _ in range(iters):
            mv = matvec(cf, v)
            nrm = math.sqrt(fold_sum([y * y for y in mv]))
            v = [y / nrm for y in mv]
        mv = matvec(cf, v)
        lam = fold_sum([v[i] * mv[i] for i in range(dim)])
        # sign fix: first max-|entry| coordinate positive
        ab = [abs(x) for x in v]
        if v[ab.index(max(ab))] < 0:
            v = [-x for x in v]
        comps.append(v)
        evals.append(lam)
        cf = [
            cf[i2] - lam * v[i2 // dim] * v[i2 % dim]
            for i2 in range(dim * dim)
        ]
    return mean, comps, evals, trace
