"""Connected components (alternating star rounds) — correctness against
a reference union-find on random graphs, plus dedup representative
selection semantics."""

from __future__ import annotations

import random

from pyspark.sql import Row

from solar_logger_spark.operators.graph import (
    connected_components,
    dedup_representatives,
)


def _uf_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min node id per component
    comp_min = {}
    for n in nodes:
        r = find(n)
        comp_min.setdefault(r, n if r == n else None)
    mins = {}
    for n in sorted(nodes):
        mins.setdefault(find(n), n)
    return {n: mins[find(n)] for n in nodes}


def test_two_components_and_singleton(spark):
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3), Row(src=5, dst=6)]
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_long_chain_converges(spark):
    # a 40-node path exercises the O(log n) round bound
    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(40)]
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {i: 0 for i in range(41)}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        nodes = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + trial * 20)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
        got = {
            r.node: r.component for r in connected_components(df).collect()
        }
        touched = {a for a, _ in edges} | {b for _, b in edges}
        want = _uf_components(sorted(touched), edges)
        assert got == want, f"trial {trial}"


def test_crossover_paths_agree_on_random_graphs(spark, monkeypatch):
    """The r12 small-graph crossover: the driver union-find fast path
    and the distributed star fixpoint must produce the identical
    (node, min-id component) labeling. Forces EACH path explicitly by
    moving the edge-count threshold."""
    from solar_logger_spark.operators import graph as G

    rng = random.Random(12)
    n = 80
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])

    monkeypatch.setattr(G, "CC_DRIVER_MAX_EDGES", 10**9)  # driver path
    via_driver = {
        r.node: r.component for r in G.connected_components(df).collect()
    }
    monkeypatch.setattr(G, "CC_DRIVER_MAX_EDGES", -1)  # distributed path
    via_fixpoint = {
        r.node: r.component for r in G.connected_components(df).collect()
    }
    assert via_driver == via_fixpoint
    touched = {a for a, _ in edges} | {b for _, b in edges}
    assert via_driver == _uf_components(sorted(touched), edges)


def test_crossover_empty_and_string_ids(spark, monkeypatch):
    """Driver fast path edge cases: empty edge set returns an empty
    (node, component) frame with the right schema; orderable non-int
    ids keep min-id semantics under the id type's own ordering."""
    from pyspark.sql import Row as R

    from solar_logger_spark.operators import graph as G

    monkeypatch.setattr(G, "CC_DRIVER_MAX_EDGES", 10**9)
    empty = spark.createDataFrame([], "src long, dst long")
    out = G.connected_components(empty)
    assert out.columns == ["node", "component"]
    assert out.collect() == []

    sdf = spark.createDataFrame(
        [R(src="b", dst="c"), R(src="a", dst="b"), R(src="x", dst="y")]
    )
    got = {
        r.node: r.component for r in G.connected_components(sdf).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_dedup_representatives_covers_all_docs(spark):
    pairs = spark.createDataFrame(
        [Row(a_id=10, b_id=11, jaccard=0.9), Row(a_id=11, b_id=12, jaccard=0.8)]
    )
    all_ids = spark.createDataFrame([Row(doc_id=i) for i in [10, 11, 12, 13]])
    got = {
        r.doc_id: (r.component, r.keep)
        for r in dedup_representatives(pairs, all_ids).collect()
    }
    assert got == {
        10: (10, True),
        11: (10, False),
        12: (10, False),
        13: (13, True),  # untouched doc is its own kept singleton
    }


def test_best_representatives_keeps_highest_quality(spark):
    from pyspark.sql import Row
    from solar_logger_spark.operators.graph import dedup_best_representatives

    # cluster {1,2,3} (chain), singleton {9}; doc 2 has best quality
    pairs = spark.createDataFrame(
        [Row(a_id=1, b_id=2), Row(a_id=2, b_id=3)]
    )
    scored = spark.createDataFrame(
        [
            Row(doc_id=1, quality_score=0.5),
            Row(doc_id=2, quality_score=0.9),
            Row(doc_id=3, quality_score=0.9),  # tie -> lower id wins
            Row(doc_id=9, quality_score=0.1),
        ]
    )
    out = {r.doc_id: r for r in
           dedup_best_representatives(pairs, scored).collect()}
    assert out[1].component == out[2].component == out[3].component == 1
    assert not out[1].keep
    assert out[2].keep          # 0.9 tie, id 2 < 3
    assert not out[3].keep
    assert out[9].keep and out[9].component == 9


def test_incremental_components_equals_batch(spark, tmp_path):
    """Streaming label maintenance == one-shot CC over the union of all
    deliveries, including the hard cases: a later edge MERGING two
    existing components, and a new node with a smaller id than every
    existing label (the component minimum must move down to it)."""
    import itertools

    from solar_logger_spark.operators.graph import incremental_components

    rng = random.Random(11)
    deliveries = [
        [(10, 20), (20, 30), (100, 110)],
        [(200, 210), (30, 40)],
        [(110, 200), (20, 100)],   # merges {10..40},{100,110},{200,210}
        [(5, 40)],                 # new global minimum 5
        [(300, 310)],              # untouched separate component
    ]
    # plus a random layer to exercise non-hand-picked shapes
    deliveries.append(
        [(rng.randrange(400, 440), rng.randrange(400, 440))
         for _ in range(30)]
    )
    d = str(tmp_path / "comps")
    for e in deliveries:
        df = spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in e if a != b]
        )
        incremental_components(spark, d, df)

    from solar_logger_spark.io import merge as M

    got = {
        r.node: r.component
        for r in M.read_table_snapshot(spark, d).collect()
    }
    all_edges = [e for dl in deliveries for e in dl if e[0] != e[1]]
    exp = {
        r.node: r.component
        for r in connected_components(
            spark.createDataFrame([Row(src=a, dst=b) for a, b in all_edges])
        ).collect()
    }
    assert got == exp
    assert got[40] == 5 and got[210] == 5  # the merge chain reached min

    # replay idempotency: labels are a pure function of the edge set
    incremental_components(
        spark, d,
        spark.createDataFrame([Row(src=a, dst=b) for a, b in deliveries[2]]),
    )
    again = {
        r.node: r.component
        for r in M.read_table_snapshot(spark, d).collect()
    }
    assert again == exp


def test_incremental_components_driver_guard(spark, tmp_path):
    import pytest

    from solar_logger_spark.operators.graph import incremental_components

    d = str(tmp_path / "comps")
    df1 = spark.createDataFrame([Row(src=1, dst=2)])
    incremental_components(spark, d, df1)
    df2 = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(3, 9)])
    with pytest.raises(ValueError, match="pre-reduce"):
        incremental_components(spark, d, df2, max_driver_edges=2)


def test_incremental_components_string_ids(spark, tmp_path):
    """Ids keep their natural type: string doc ids must label by
    string ordering, exactly like batch CC — not be silently dropped
    by a numeric cast."""
    from solar_logger_spark.io import merge as M
    from solar_logger_spark.operators.graph import incremental_components

    d = str(tmp_path / "comps")
    d1 = spark.createDataFrame([Row(src="doc-b", dst="doc-c")])
    d2 = spark.createDataFrame([Row(src="doc-a", dst="doc-c")])
    incremental_components(spark, d, d1)
    incremental_components(spark, d, d2)
    got = {
        r.node: r.component
        for r in M.read_table_snapshot(spark, d)
        .select("node", "component").collect()
    }
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a"
    }
    import pytest

    with pytest.raises(ValueError, match="NULL"):
        incremental_components(
            spark, d,
            spark.createDataFrame(
                [Row(src="doc-a", dst=None)], "src string, dst string"
            ),
        )


def test_incremental_components_random_deliveries_with_replays(
    spark, tmp_path
):
    """Randomized differential: many random deliveries (with a replay
    interleaved) must leave the maintained labels equal to batch CC
    over the union — broad insurance on the contracted-graph +
    relabel logic."""
    from solar_logger_spark.io import merge as M
    from solar_logger_spark.operators.graph import incremental_components

    rng = random.Random(41)
    d = str(tmp_path / "comps")
    deliveries = [
        [
            (rng.randrange(100), rng.randrange(100))
            for _ in range(rng.randint(2, 12))
        ]
        for _ in range(6)
    ]
    applied = []
    for i, e in enumerate(deliveries):
        edges = [(a, b) for a, b in e if a != b]
        if not edges:
            continue
        df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
        incremental_components(spark, d, df)
        applied.extend(edges)
        if i == 3:  # replay an earlier delivery mid-stream
            incremental_components(
                spark, d,
                spark.createDataFrame(
                    [Row(src=a, dst=b) for a, b in deliveries[1] if a != b]
                ),
            )
    got = {
        r.node: r.component
        for r in M.read_table_snapshot(spark, d)
        .select("node", "component").collect()
    }
    exp = {
        r.node: r.component
        for r in connected_components(
            spark.createDataFrame(
                [Row(src=a, dst=b) for a, b in applied]
            )
        ).collect()
    }
    assert got == exp
