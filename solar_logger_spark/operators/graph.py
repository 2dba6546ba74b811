"""Connected components over candidate-pair edges — the clustering step
of a dedup pipeline (pairs → components → one representative per
component).

The reference has no graph surface (SURVEY §2.3: no joins at all); this
is a beyond-reference scale operator: near-dup *pairs* (MinHash/Jaccard
output) only become deduplication once transitively grouped, and at
100 TB the grouping must be distributed and iterative.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public):

* large-star: every node connects its *larger* neighbors to its current
  minimum neighbor (incl. itself);
* small-star: every node connects its smaller-or-equal neighbors to the
  minimum.

Each round is two self-contained groupBy/join passes over the edge set;
edges monotonically point toward component minima and the edge count
never grows. Convergence (no edge changed) is checked with one count
per round — the classic O(log n)-round bound holds in expectation.
``localCheckpoint`` cuts plan lineage each round so the driver never
re-optimizes an ever-growing tree (the iterative-algorithm equivalent
of the wide-aggregate lesson in NOTES.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

# Crossover for the driver union-find fast path of
# ``connected_components``: edge sets at or below this size are solved
# in one collect + local union-find instead of the distributed star
# fixpoint (which costs ~4 scheduler jobs and ~10 exchanges per round
# regardless of data size). 500k edges is ~8 MB of (long, long) payload
# — far below the driver budget the repo already grants the SAME
# decision in ``incremental_components`` (max_driver_edges=1_000_000).
# Above the threshold the distributed fixpoint runs unchanged, so the
# 100 TB path is identical to before. Env-tunable for cluster deploys.
CC_DRIVER_MAX_EDGES = int(
    os.environ.get("SOLAR_CC_DRIVER_EDGES", str(500_000))
)

# hive-partition column of the maintained component-labels table
# (incremental_components): pmod(hash(node), n_partitions)
PC = "_pc"
COMP_PARTS_SIDECAR = "_comp_partitions"


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list → canonical (src < dst) pairs, deduped,
    self-loops dropped."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    return e.filter(F.col("src") != F.col("dst")).distinct()


def _fingerprint(edges: DataFrame) -> tuple:
    """Order-independent fingerprint of a distinct edge set: row count
    plus two independent 64-bit hash sums. Equality of fingerprints
    implies set equality up to astronomically unlikely collision."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sums can't overflow ANSI long arithmetic
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h1"),
        F.sum(
            F.xxhash64("dst", F.lit(17), "src").cast("decimal(38,0)")
        ).alias("h2"),
    ).collect()[0]
    return (row["n"], row["h1"], row["h2"])


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round. ``edges`` holds (src < dst)
    pairs; returns the same invariant.

    Each half computes the per-node neighborhood minimum as a WINDOW
    aggregate over the (node, nbr) table instead of the groupBy-mins +
    join-back form: one exchange of the neighborhood table per half
    instead of two (the join form re-shuffles nbrs for the SMJ and
    sorts both sides anyway, so the window's sort is not an added
    cost). A hub node's rows concentrate in one task either way — the
    join on ``node`` had the identical skew — and WindowExec's
    partition buffer is spillable. Measured: 25 → 17 scheduler jobs
    per fixpoint run on the sf0.1 near-dup graph (AQE materializes
    every exchange as its own job), bit-identical components on
    random-graph differentials."""
    from pyspark.sql import Window

    w = Window.partitionBy("node")
    # neighborhoods as (node, nbr) in both directions
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).toDF("node", "nbr")
    # large-star: link strictly-larger neighbors to the min. The output
    # is already canonical by construction — mn ≤ node < nbr gives
    # src < dst and no self-loops — and duplicate edges are TOLERATED
    # through the small-star half (its window min is duplicate-
    # insensitive; the round-final distinct collapses them), which
    # saves a full mid-round dedup shuffle.
    lg = nbrs.withColumn(
        "mn", F.least(F.min("nbr").over(w), F.col("node"))
    )
    e2 = (
        lg.filter(F.col("nbr") > F.col("node"))
        .select(F.col("mn").alias("src"), F.col("nbr").alias("dst"))
    )

    nbrs2 = e2.union(
        e2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).toDF("node", "nbr")
    sm = nbrs2.withColumn(
        "mn", F.least(F.min("nbr").over(w), F.col("node"))
    )
    # small-star: link smaller-or-equal neighbors to the min, plus the
    # (min, node) self-link — emitted per neighborhood row rather than
    # once per node (duplicates collapse in the final distinct).
    # mn ≤ nbr ≤ node keeps src ≤ dst; equality is a self-loop,
    # dropped below.
    small = (
        sm.filter(F.col("nbr") <= F.col("node"))
        .select(F.col("mn").alias("src"), F.col("nbr").alias("dst"))
        .union(
            sm.select(
                F.col("mn").alias("src"), F.col("node").alias("dst")
            )
        )
    )
    return small.filter(F.col("src") != F.col("dst")).distinct()


def _driver_components(edges: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL canonical edge list via a
    single bounded collect + driver union-find — the fast path of
    :func:`connected_components` below ``CC_DRIVER_MAX_EDGES``.

    Produces the identical labeling to the distributed star fixpoint:
    every node that appears in an edge is labeled with its component's
    MINIMUM node id (min-id union semantics, any orderable id type).
    Returned as a LocalRelation, which downstream joins broadcast."""
    from pyspark.sql.types import StructField, StructType

    id_type = edges.schema["src"].dataType
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    seen: set = set()
    for row in edges.collect():  # bounded: <= CC_DRIVER_MAX_EDGES rows
        a, b = row[0], row[1]
        seen.add(a)
        seen.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min-id wins, matching the star fixpoint
    out = [(n, find(n)) for n in seen]
    # The labeling is bounded by 2·CC_DRIVER_MAX_EDGES rows but comes
    # back as a pickled-RDD frame with UNKNOWN size, so without a hint
    # every consumer join plans a full SortMergeJoin of the (large)
    # document side against it. Hint broadcast: the membership side is
    # small by construction on this path.
    return F.broadcast(
        edges.sparkSession.createDataFrame(
            out,
            StructType(
                [
                    StructField("node", id_type),
                    StructField("component", id_type),
                ]
            ),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Label each node of the undirected graph with its component's
    minimum node id. Returns ``(node, component)``.

    Driver-coordinated loop: each round materializes a localCheckpoint
    (cut lineage, keep partitions) and stops when the edge set reaches a
    fixpoint — at that point every surviving edge is (component_min,
    member).
    """
    cur = _canonical(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(eager=False)
    # derive the node set from the CHECKPOINTED edge list (same nodes as
    # the input), so the — possibly expensive — upstream edge plan is
    # computed exactly once, not re-run for the final membership join
    nodes = (
        cur.select(F.col("src").alias("node"))
        .union(cur.select(F.col("dst").alias("node")))
        .distinct()
    )
    prev_fp = _fingerprint(cur)
    # Small-graph crossover (r12): the fingerprint above already
    # materialized the checkpoint AND counted the distinct canonical
    # edges. At or below CC_DRIVER_MAX_EDGES, one bounded collect + a
    # driver union-find produces the identical (node, min-id component)
    # labeling in a single job — the distributed fixpoint costs ~4 jobs
    # and ~10 exchanges PER ROUND however small the graph is (near-dup
    # graphs at bench scale are a few thousand edges). The result is a
    # LocalRelation, so downstream joins broadcast it for free. Above
    # the threshold the fixpoint below runs exactly as before — same
    # 100 TB path, and the same driver-budget argument as
    # ``incremental_components``'s max_driver_edges.
    if prev_fp[0] is not None and prev_fp[0] <= CC_DRIVER_MAX_EDGES:
        return _driver_components(cur)
    for _ in range(max_iterations):
        # lazy checkpoint: the fingerprint job below materializes it,
        # so each round costs one job instead of two
        nxt = _star_round(cur).localCheckpoint(eager=False)
        # fixpoint check by set fingerprint: both sides are DISTINCT
        # canonical edge lists, so equal (count, two independent hash
        # sums) ⟺ equal sets up to a ~2⁻¹²⁸ collision — one two-stage
        # aggregation job instead of the exceptAll symmetric difference
        # (which cost two extra shuffle joins per round)
        fp = _fingerprint(nxt)
        cur = nxt
        if fp == prev_fp:
            break
        prev_fp = fp
    membership = cur.select(
        F.col("dst").alias("node"), F.col("src").alias("component")
    )
    # singletons (no surviving edge) are their own component
    return nodes.join(membership, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def dedup_representatives(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Full dedup decision from near-dup pairs: transitively group, keep
    the minimum id of each component as the representative. Returns
    ``(doc_id, component, keep)`` for every document (non-duplicated
    docs are their own singleton component, keep = true)."""
    comps = connected_components(pairs, src=a_col, dst=b_col)
    return (
        all_ids.select(F.col(id_col))
        .join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
            (
                F.coalesce("component", F.col(id_col)) == F.col(id_col)
            ).alias("keep"),
        )
    )


def dedup_best_representatives(
    pairs: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Dedup decision keeping the BEST member of each near-dup cluster
    rather than the minimum id — production pipelines keep the
    highest-quality (or longest, or most recent) duplicate, since
    near-dup clusters routinely contain one clean copy and N degraded
    ones. ``scored`` must carry (id_col, score_col) for every document.

    Returns ``(id_col, component, keep)`` for every scored document;
    the keep flag marks the argmax by (score desc, id asc) per
    component — deterministic under score ties. One window over
    components (bounded: component size ~ duplicate-cluster size, not
    corpus size) on top of the connected-components fixpoint."""
    from pyspark.sql import Window

    comps = connected_components(pairs, src=a_col, dst=b_col)
    full = (
        scored.select(F.col(id_col), F.col(score_col))
        .join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            score_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return full.select(
        id_col,
        "component",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def incremental_components(
    spark,
    comp_dir: str,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    keep_snapshots: int = 2,
    max_driver_edges: int = 1_000_000,
    n_partitions: int = 32,
) -> None:
    """Maintain a connected-components labeling INCREMENTALLY as edges
    arrive — the cluster-assignment companion of the streaming dedup
    loop (each delivery's verified near-dup pairs merge into persisted
    min-id component labels, instead of re-running CC over the full
    pair history).

    Table: ``(node, component)`` in the io/merge snapshot store, one
    row per node that has ever appeared in an edge; component = the
    min node id of its component, exactly matching a batch
    :func:`connected_components` over the union of all deliveries
    (differential-pinned in tests). Singletons are implicit (readers
    coalesce a missing node to itself — the ``dedup_cluster_assignments``
    convention).

    Per-delivery algorithm (the standard contracted-graph trick):
    every edge endpoint is mapped to its CURRENT label (a broadcast-
    sized join against the labels of just the touched nodes), giving a
    contracted edge list bounded by the DELIVERY's size, never the
    accumulated graph. Union-find over those contracted edges runs on
    the driver (``max_driver_edges`` guards the collect — a delivery
    producing more pairs than that should run the distributed
    :func:`connected_components` on its own pairs first and feed the
    result here), and the relabel map fans back out as one MERGE:
    rows of merged components get their new min label, new nodes are
    inserted.

    Cost per delivery, honestly: the labels table is hive-partitioned
    by ``pmod(hash(node), n_partitions)`` and the MERGE is
    partition-SCOPED, so the label READ prunes to the endpoints'
    partitions and the WRITE rewrites only partitions holding updated
    rows (the rest hardlink). The one full-table term left is the
    relabel SCAN when a delivery merges existing components (finding
    every row of the merged components is a scan-shaped inner join
    against the broadcast relabel map) — a read, not a rewrite, and
    only on merging deliveries.

    Ids may be any orderable type (min-id semantics follow the id
    type's ordering, like :func:`connected_components`); NULL-id edges
    are rejected rather than silently dropped.

    Replay-safe: labels are a pure function of the edge set, and
    re-merging an already-applied delivery recomputes the identical
    labels (MERGE by node) — idempotent without any epoch machinery.

    ``n_partitions`` is pinned as a snapshot sidecar at init time and
    the STORED value is authoritative on every later call (a mismatch
    raises): reading labels with a different N prunes the wrong
    partitions (touched nodes silently treated as unseen → components
    split), and the scoped upsert would write new ``_pc`` values while
    stale rows survive in old partitions — the exact silent-corruption
    class the dedup index's ``stored_partitions`` sidecar closes.
    """
    from solar_logger_spark.io import merge as M

    id_type = new_edges.schema[src].dataType

    stored = M.read_sidecar(comp_dir, COMP_PARTS_SIDECAR)
    if stored is not None and int(stored) != n_partitions:
        raise ValueError(
            f"labels table at {comp_dir} is laid out with "
            f"n_partitions={stored} but this call passed "
            f"{n_partitions} — a mismatch mis-prunes label reads and "
            "mis-scopes the merge; pass the stored value"
        )
    parts_sidecar = {COMP_PARTS_SIDECAR: str(n_partitions)}

    def _pc(col):
        return F.pmod(F.hash(col), F.lit(n_partitions)).alias(PC)

    edges = new_edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    n_null = edges.filter(
        F.col("src").isNull() | F.col("dst").isNull()
    ).count()
    if n_null:
        raise ValueError(
            f"{n_null} edge(s) with NULL endpoint ids — a NULL cannot "
            "label a component; filter upstream if intended"
        )
    edges = edges.filter(F.col("src") != F.col("dst")).distinct()

    if M.current_snapshot(comp_dir) is None:
        comps = connected_components(edges).withColumn(PC, _pc("node"))
        M.init_table(
            comps, comp_dir, partition_by=[PC], sidecar=parts_sidecar
        )
        return

    comp = M.read_table_snapshot(spark, comp_dir)
    endpoints = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # current label of each touched endpoint (itself when unseen): one
    # left join, with the comp scan pruned to the endpoints' <= N
    # partitions — delivery-bounded however large the table grows
    pcs = [r[0] for r in endpoints.select(_pc("node")).distinct().collect()]
    lmap = endpoints.join(
        comp.filter(F.col(PC).isin(pcs)).select("node", "component"),
        "node",
        "left",
    ).select("node", F.coalesce("component", "node").alias("cur"))
    contracted = (
        edges.join(
            lmap.withColumnRenamed("node", "src").withColumnRenamed(
                "cur", "src_l"
            ),
            "src",
        )
        .join(
            lmap.withColumnRenamed("node", "dst").withColumnRenamed(
                "cur", "dst_l"
            ),
            "dst",
        )
        .select("src_l", "dst_l")
        .filter(F.col("src_l") != F.col("dst_l"))
        .distinct()
    )
    rows = contracted.limit(max_driver_edges + 1).collect()
    if len(rows) > max_driver_edges:
        raise ValueError(
            f"delivery contracts to more than {max_driver_edges} edges; "
            "pre-reduce it with connected_components(new_edges) and "
            "feed the (component, member) rows here instead"
        )
    # driver union-find over the contracted (label/new-node) graph —
    # bounded by the delivery, independent of the accumulated graph;
    # ids are whatever orderable type the edges carry
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r.src_l), find(r.dst_l)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo  # min-id wins: labels stay component minima
    changed = [
        (x, find(x)) for x in list(parent) if x != find(x)
    ]

    if changed:
        from pyspark.sql.types import StructField, StructType

        rl = F.broadcast(
            spark.createDataFrame(
                changed,
                StructType(
                    [
                        StructField("old", id_type),
                        StructField("new", id_type),
                    ]
                ),
            )
        )
        # touched endpoints take their (possibly re-mapped) label ...
        updates = lmap.join(rl, lmap.cur == rl.old, "left").select(
            "node", F.coalesce("new", "cur").alias("component")
        )
        # ... and every node of a merged OLD component is re-labeled to
        # the new minimum (the one full-scan term: an inner join
        # against the broadcast relabel map — a read, only on merging
        # deliveries, never a rewrite)
        moved = comp.join(rl, comp.component == rl.old).select(
            comp.node, F.col("new").alias("component")
        )
        updates = updates.unionByName(moved).dropDuplicates(["node"])
    else:
        updates = lmap.select("node", F.col("cur").alias("component"))
    M.upsert(
        spark, comp_dir, updates.withColumn(PC, _pc("node")),
        keys=["node"], keep_snapshots=keep_snapshots,
        partition_by=[PC], partition_scoped=True,
        sidecar=parts_sidecar,
    )
