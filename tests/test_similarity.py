"""Similarity-search semantics with known geometry."""

import math
import warnings

import pytest
from pyspark.sql import Row

from solar_logger_spark.operators import similarity


@pytest.fixture(scope="module")
def vectors(spark):
    # 4-d toy space with known relationships
    data = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # ~0 direction
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.8, 0.2, 0.0, 0.0]),   # ~0 direction
    ]
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in data]
    )


def test_cosine_values(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0]),
         Row(a=[1.0, 0.0], b=[-1.0, 0.0])]
    )
    from pyspark.sql import functions as F
    out = [r.c for r in df.select(
        similarity.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert out[0] == pytest.approx(1.0)
    assert out[1] == pytest.approx(0.0)
    assert out[2] == pytest.approx(-1.0)


def test_topk_bruteforce_ordering(vectors):
    queries = vectors.filter("vec_id = 0")
    out = similarity.topk_bruteforce(vectors, queries, k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 4, 2]  # by cosine to [1,0,0,0]
    assert all(r.query_id == 0 for r in out)


def test_topk_excludes_self(vectors):
    out = similarity.topk_bruteforce(vectors, vectors, k=4).collect()
    assert all(r.neighbor_id != r.query_id for r in out)


def test_neardup_pairs_threshold(vectors):
    pairs = {(r.a_id, r.b_id) for r in
             similarity.neardup_pairs(vectors, threshold=0.95).collect()}
    assert (0, 1) in pairs and (1, 4) in pairs and (0, 4) in pairs
    assert (0, 2) not in pairs and (0, 3) not in pairs


def test_hyperplane_buckets_deterministic(vectors):
    b1 = {r.vec_id: r.bucket for r in similarity.hyperplane_buckets(
        vectors, n_planes=8, dim=4).collect()}
    b2 = {r.vec_id: r.bucket for r in similarity.hyperplane_buckets(
        vectors, n_planes=8, dim=4).collect()}
    assert b1 == b2
    # opposite vectors land in complementary buckets → different
    assert b1[0] != b1[3]


def test_topk_lsh_recalls_close_neighbors(vectors):
    queries = vectors.filter("vec_id = 0")
    out = similarity.topk_lsh(vectors, queries, k=3, n_planes=4, dim=4).collect()
    got = {r.neighbor_id for r in out}
    # same-direction vectors share all sign bits with the query
    assert {1, 4} <= got


def test_topk_lsh_blas_fast_path_same_contract(vectors):
    """exact_fold=False (BLAS matmul bucketing — the production path)
    must satisfy the same recall contract; on these well-separated
    vectors the candidate sets are identical, so outputs match the
    fold path row for row."""
    queries = vectors.filter("vec_id = 0")
    fold = similarity.topk_lsh(
        vectors, queries, k=3, n_planes=4, dim=4
    ).collect()
    blas = similarity.topk_lsh(
        vectors, queries, k=3, n_planes=4, dim=4, exact_fold=False
    ).collect()
    canon = lambda rows: sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in rows
    )
    assert canon(blas) == canon(fold)
    assert {1, 4} <= {r.neighbor_id for r in blas}


def test_dot_is_left_to_right_double(spark):
    """Accumulation order is deterministic (oracle reproducibility)."""
    from pyspark.sql import functions as F
    vals = [1e16, 1.0, -1e16]
    df = spark.createDataFrame([Row(a=vals, b=[1.0, 1.0, 1.0])])
    out = df.select(similarity.dot(F.col("a"), F.col("b")).alias("d")).collect()
    # (1e16 + 1) - 1e16 == 0 in double left-to-right
    assert out[0].d == 0.0


def test_kmeans_refine_improves_codebook(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    seeded = S.seeded_centroids(emb, k=8)
    refined = S.kmeans_refine(emb, seeded, n_iter=2)
    assert refined.shape == seeded.shape
    # Lloyd sweeps never increase the spherical k-means objective
    before = S.ivf_inertia(emb, seeded)
    after = S.ivf_inertia(emb, refined)
    assert after <= before + 1e-9
    # refined centroids are unit-norm (spherical update)
    import numpy as np

    norms = np.sqrt((refined * refined).sum(axis=1))
    changed = ~np.all(refined == seeded, axis=1)
    assert np.allclose(norms[changed], 1.0)


def test_kmeans_refine_deterministic(spark, sf_dir):
    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import similarity as S
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    seeded = S.seeded_centroids(emb, k=4)
    a = S.kmeans_refine(emb, seeded, n_iter=1)
    b = S.kmeans_refine(emb, seeded, n_iter=1)
    assert np.array_equal(a, b)


def test_neardup_blocked_matches_broadcast(spark):
    # larger seeded corpus so pairs cross hash-block boundaries in both
    # id orders — the blocked path must reproduce the broadcast exact
    # path bit-for-bit
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.RandomState(11)
    base = rng.randn(40, 8)
    rows = []
    vid = 0
    for v in base:
        rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
        vid += 1
        # a jittered near-duplicate of every 4th vector
        if vid % 4 == 0:
            dup = v + rng.randn(8) * 0.05
            rows.append(Row(vec_id=vid, embedding=[float(x) for x in dup]))
            vid += 1
    df = spark.createDataFrame(rows)
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in similarity.neardup_pairs(
            df, threshold=0.5, method="broadcast"
        ).collect()
    }
    # the blocked kernel's applyInPandas must build without PySpark
    # failing to infer its eval type from partial type hints
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        blocked_df = similarity.neardup_pairs(
            df, threshold=0.5, method="blocked", n_blocks=5
        )
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]
    blocked = {(r.a_id, r.b_id): r.cos_sim for r in blocked_df.collect()}
    assert blocked == exact
    assert len(exact) > 0


def test_hard_negatives_band_and_underfill(vectors):
    """Mined negatives sit strictly inside [floor, ceiling): near-dups
    above the ceiling are excluded (false-negative guard) and anchors
    whose in-band candidates number fewer than k return what exists."""
    anchors = vectors.filter("vec_id = 0")
    allk = similarity.topk_bruteforce(vectors, anchors, k=10).collect()
    sims = {r.neighbor_id: r.cos_sim for r in allk}
    floor, ceiling = 0.05, 0.99
    out = similarity.hard_negatives(
        vectors, anchors, k=10, floor=floor, ceiling=ceiling
    ).collect()
    got = {r.neighbor_id: r.cos_sim for r in out}
    expect = {n: s for n, s in sims.items() if floor <= s < ceiling}
    assert got == expect                      # exact same scores, banded
    assert len(got) < len(sims)               # ceiling really excluded
    # ranks are dense and ordered within the band
    ranks = [r.rank for r in sorted(out, key=lambda r: -r.cos_sim)]
    assert ranks == list(range(1, len(out) + 1))
    with pytest.raises(ValueError, match="empty similarity band"):
        similarity.topk_bruteforce(vectors, anchors, band=(0.5, 0.5))


def test_ivf_deterministic_partition_invariant(spark, sf_dir):
    """The oracle-backed IVF trainer must produce BIT-identical output
    under any input partitioning — the property that makes the DuckDB
    hash comparison meaningful (fold orders pinned to id order, never
    arrival order)."""
    from solar_logger_spark.io.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)

    def run(corpus):
        rows = similarity.topk_ivf_deterministic(
            corpus, q, k=5, n_cells=8, n_probe=4, lloyd_rounds=1
        ).collect()
        return sorted(
            (r.query_id, r.neighbor_id, r.cos_sim.hex(), r.rank)
            for r in rows
        )

    a = run(emb)
    b = run(emb.repartition(7, "vec_id"))
    c = run(emb.coalesce(1))
    assert a == b == c
    assert len(a) == 50  # 10 queries x k


def test_ivf_deterministic_zero_rounds_and_empty_cells(spark):
    """lloyd_rounds=0 is the pure hash-seeded codebook; with more
    cells than vectors, empty cells keep their init centroid and the
    query still returns clean top-k."""
    from pyspark.sql import Row

    rows = [
        Row(vec_id=i, embedding=[float((i * 7 + d) % 5) for d in range(8)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows)
    out = similarity.topk_ivf_deterministic(
        df, df.filter("vec_id < 3"), k=3, n_cells=16, n_probe=16,
        lloyd_rounds=2,
    ).collect()
    assert {r.query_id for r in out} == {0, 1, 2}
    for qid in (0, 1, 2):
        ranks = sorted(r.rank for r in out if r.query_id == qid)
        assert ranks == [1, 2, 3]
    out0 = similarity.topk_ivf_deterministic(
        df, df.filter("vec_id < 3"), k=3, n_cells=4, n_probe=4,
        lloyd_rounds=0,
    ).collect()
    assert len(out0) == 9
