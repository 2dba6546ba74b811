"""Maintained ANN index (streaming.ann_ingest): bootstrap → delta
deliveries → search / compact / recenter, in both layouts.

Covers the r8-verdict done-criteria: a streamed delivery is searchable
immediately, foreachBatch replays converge (identical search results,
identical bytes after compaction), and the deterministic layout's
persistence round-trip is bit-exact against the directly-composed
in-memory pipeline."""

import os

import pytest
from pyspark.sql import Row, functions as F

from solar_logger_spark.io import merge as M
from solar_logger_spark.io.tables import load_table
from solar_logger_spark.streaming import ann_ingest as AI


def _load(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb,
        emb.filter(F.col("vec_id") % 4 != 3),
        emb.filter(F.col("vec_id") % 4 == 3),
        emb.filter(F.col("vec_id") < 5),
    )


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.approx_dist.hex(), r.rank)
        for r in df.collect()
    )


def test_numpy_index_delivery_replay_compact(spark, sf_dir, tmp_path):
    emb, initial, delivery, q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    sink = AI.ann_ingest_sink(idx)
    sink(delivery, 1)

    out1 = _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=4, rerank=50
    ))
    assert len(out1) == 25
    # delivered vectors are searchable immediately (delta resolution)
    deliv = {r.vec_id for r in delivery.select("vec_id").collect()}
    assert any(n in deliv for _, n, _, _ in out1)

    # foreachBatch replay: a re-run of the same delivery must not
    # change search results (latest-epoch-per-id keeps one copy)
    sink(delivery, 1)
    assert len(M.list_deltas(idx)) == 2
    assert _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=4, rerank=50
    )) == out1

    # compaction folds the replayed tail away and preserves results
    AI.compact_ann_index(spark, idx)
    assert not M.list_deltas(idx)
    assert _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=4, rerank=50
    )) == out1
    # resolved row count: one codes row per vector, no replay ghosts
    n_all = emb.count()
    assert M.read_table_snapshot(spark, idx).count() == n_all

    # the codes layout prunes: one hive dir per cell
    snap = M.current_snapshot(idx)
    cells = [
        d for d in os.listdir(os.path.join(idx, snap))
        if d.startswith("cell=")
    ]
    assert 1 < len(cells) <= 8


def test_empty_delivery_is_a_no_op(spark, sf_dir, tmp_path):
    """An empty foreachBatch trigger against a bootstrapped index must
    append no delta (append_delta's take(1) is the sink's single
    emptiness probe since the two-job delivery rework)."""
    _, initial, _, _ = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    empty = initial.filter(F.lit(False))
    AI.ann_ingest_sink(idx)(empty, 1)
    assert M.list_deltas(idx) == []


def test_pre_bootstrap_delivery_contract(spark, sf_dir, tmp_path):
    """Before bootstrap: an empty trigger no-ops (streams can start
    with idle triggers), a non-empty delivery raises the named
    bootstrap-first error instead of an opaque FileNotFoundError
    (ADVICE r10)."""
    _, initial, delivery, _ = _load(spark, sf_dir)
    idx = str(tmp_path / "never_bootstrapped")
    os.makedirs(idx, exist_ok=True)
    sink = AI.ann_ingest_sink(idx)
    sink(initial.filter(F.lit(False)), 0)      # empty: clean no-op
    assert M.list_deltas(idx) == []
    with pytest.raises(RuntimeError, match="before the index was bootstrapped"):
        sink(delivery, 1)


def test_numpy_index_recall_and_recenter(spark, sf_dir, tmp_path):
    from solar_logger_spark.operators.similarity import topk_bruteforce

    emb, initial, delivery, q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    AI.ann_ingest_sink(idx)(delivery, 1)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_bruteforce(emb, q, k=5).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    # generous probes + rerank: the maintained index must find the
    # true neighbors, including pairs that span bootstrap/delivery
    assert recall(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=8, rerank=200
    )) >= 0.8

    # recenter retrains on the full corpus and re-encodes — one atomic
    # snapshot swap, search stays sane afterwards
    AI.recenter_ann_index(spark, idx, emb, refine_iters=1)
    assert not M.list_deltas(idx)
    assert recall(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=8, rerank=200
    )) >= 0.8


def test_deterministic_layout_roundtrip_bit_exact(spark, sf_dir, tmp_path):
    """Persistence must be invisible: bootstrap(initial) + delivery
    appended against the PINNED sidecar model, searched from parquet,
    equals the never-persisted composition of the same deterministic
    pieces — bit for bit (the property the similarity_ann_maintained
    oracle relies on)."""
    from solar_logger_spark.operators import pq

    emb, initial, delivery, q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index_deterministic(
        initial, idx, n_cells=8, m=8, ks=16, lloyd_rounds=1
    )
    persisted = _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=6, rerank=50
    ).localCheckpoint())

    # in-memory twin: same train on initial, encode everything, search
    cents, books, rsubs, _seeds = AI._det_train(
        initial, 8, 8, 16, 1, "vec_id", "embedding"
    )
    codes_boot = pq._encode(rsubs, books, ["vid", "cell"]).select(
        "vid", "cell", "ms", "code"
    )
    # delivery must be present for parity with the persisted index
    AI.ann_ingest_sink(idx)(delivery, 1)
    persisted2 = _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=6, rerank=50
    ).localCheckpoint())
    codes_all = codes_boot.unionByName(
        AI._det_encode(delivery, cents, books, 8, "vec_id", "embedding")
    )
    model = AI.read_model(idx)
    assert model["layout"] == AI._ROWS and model["m"] == 8

    # drive the same pinned-fold search over the in-memory codes by
    # swapping them in through a one-table index dir
    idx2 = str(tmp_path / "ann2")
    M.init_table(
        codes_all, idx2, partition_by=["cell"],
        sidecar={AI.MODEL_SIDECAR: AI._model_json(
            cents, books, AI._ROWS, "vec_id", "embedding", 8, 16,
        )},
    )
    inmem = _rows(AI.search_ann_index(
        spark, idx2, q, corpus=emb, k=5, n_probe=6, rerank=50
    ))
    assert persisted2 == inmem
    # bootstrap-only search differs from post-delivery search (the
    # delivery is genuinely visible)
    assert persisted != persisted2

    # det replay + compact converge bit-identically
    AI.ann_ingest_sink(idx)(delivery, 2)
    assert _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=6, rerank=50
    )) == persisted2
    AI.compact_ann_index(spark, idx)
    assert _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=6, rerank=50
    )) == persisted2


def test_recenter_keeps_deterministic_layout(spark, sf_dir, tmp_path):
    """Recenter retrains with the trainer of the index's own layout: a
    deterministic index stays ``rows`` (SQL-replayable, exactly
    rescored search), and recentering it on the full corpus equals a
    fresh deterministic bootstrap of that corpus — model and resolved
    codes, bit for bit."""
    emb, initial, delivery, _q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index_deterministic(initial, idx, n_cells=8, m=8, ks=16)
    AI.ann_ingest_sink(idx)(delivery, 1)
    AI.recenter_ann_index(spark, idx, emb)
    fresh = str(tmp_path / "fresh")
    AI.bootstrap_ann_index_deterministic(emb, fresh, n_cells=8, m=8, ks=16)

    def model(d):
        mdl = AI.read_model(d)
        return (
            mdl["layout"], mdl["m"], mdl["ks"], mdl["seeds"],
            mdl["string_ids"],
            [[x.hex() for x in c] for c in mdl["centroids"]],
            [(b["ms"], b["code"], [x.hex() for x in b["c"]])
             for b in mdl["codebooks"]],
        )

    def codes(d):
        return sorted(
            tuple(r) for r in AI.resolved_codes(spark, d)
            .select("vid", "cell", "ms", "code").collect()
        )

    assert AI.read_model(idx)["layout"] == AI._ROWS
    assert model(idx) == model(fresh)
    assert codes(idx) == codes(fresh)


def test_changed_vector_redelivery_wins(spark, tmp_path):
    """A re-delivered id with a CHANGED vector supersedes its old
    encoding — including across a cell move — both before and after
    compaction."""
    dim = 8
    rows = [  # quasi-random, pairwise-distinct directions
        Row(vec_id=i, embedding=[
            float((i * 2654435761 + d * 40503) % 97) / 97.0 + 0.1
            for d in range(dim)
        ])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(df, idx, n_cells=4, m=4, ks=8, sample_size=40)

    # move vec 7 exactly onto vec 23's vector: 7 must become 23's
    # nearest neighbor after the re-delivery
    target = rows[23].embedding
    moved = spark.createDataFrame([Row(vec_id=7, embedding=list(target))])
    AI.ann_ingest_sink(idx)(moved, 1)
    # the rerank rescores exactly against the RAW corpus — which the
    # delivery also updated (the index and the lake move together)
    corpus = df.filter("vec_id != 7").unionByName(moved)

    q = spark.createDataFrame([rows[23]])

    def top1():
        out = AI.search_ann_index(
            spark, idx, q, corpus=corpus, k=1, n_probe=4, rerank=40
        ).collect()  # full-depth rerank: the exact-0 duplicate MUST win
        return [(r.neighbor_id, round(r.approx_dist, 12)) for r in out]

    assert top1() == [(7, 0.0)]
    # only one live row for vec 7 after resolution
    model = AI.read_model(idx)
    resolved = AI.resolved_codes(spark, idx, model)
    assert resolved.filter(F.col("vec_id") == 7).count() == 1
    AI.compact_ann_index(spark, idx)
    assert top1() == [(7, 0.0)]


def test_streamed_deliveries_equal_one_shot(spark, sf_dir, tmp_path):
    """Real Structured Streaming e2e: file-source micro-batches through
    ann_ingest_sink equal a single batch delivery of the union."""
    emb, initial, delivery, q = _load(spark, sf_dir)
    input_dir = tmp_path / "in"
    halves = [
        delivery.filter(F.col("vec_id") % 8 == 3),
        delivery.filter(F.col("vec_id") % 8 == 7),
    ]
    for i, h in enumerate(halves):
        h.coalesce(1).write.parquet(str(input_dir / f"f{i}"))

    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    raw = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir) + "/*")
    )
    qq = (
        raw.writeStream.foreachBatch(AI.ann_ingest_sink(idx))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qq.awaitTermination(180)
    assert len(M.list_deltas(idx)) == 2
    streamed = _rows(AI.search_ann_index(
        spark, idx, q, corpus=emb, k=5, n_probe=4, rerank=50
    ))

    idx2 = str(tmp_path / "ann2")
    AI.bootstrap_ann_index(initial, idx2, n_cells=8, m=8, ks=16)
    AI.ann_ingest_sink(idx2)(delivery, 1)
    assert streamed == _rows(AI.search_ann_index(
        spark, idx2, q, corpus=emb, k=5, n_probe=4, rerank=50
    ))


def test_guards(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="not an ANN index|no _CURRENT"):
        AI.read_model(str(tmp_path / "nope"))
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        AI.bootstrap_ann_index_deterministic(empty, str(tmp_path / "e"))
    # Non-integral, non-string id types must fail with a NAMED
    # boundary error, not an opaque int() ValueError mid-bootstrap
    # (string ids bridge through the xxhash64 map since r11; the seed
    # registry and forget_vecs's residue guard key on integer ids).
    dblkey = spark.createDataFrame(
        [(1.5, [0.1] * 8)], "vec_id double, embedding array<float>"
    )
    for boot in (AI.bootstrap_ann_index, AI.bootstrap_ann_index_deterministic):
        with pytest.raises(TypeError, match="integral type"):
            boot(dblkey, str(tmp_path / "s"))


def test_forget_vecs_removes_every_byte(spark, sf_dir, tmp_path):
    """RTBF over the maintained index: forgotten ids vanish from
    search, from every retained snapshot, and from every parquet file
    left in the index dir — including delta bytes pending at sweep
    time; retention rewinds to the swept state; re-running converges."""
    import glob

    emb, initial, delivery, q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    AI.ann_ingest_sink(idx)(delivery, 1)  # deltas pending at sweep time

    # forget two bootstrap ids (avoiding model-seed ids — their raw
    # vectors live in the sidecar; the residue guard covers that case
    # in its own test) and one delivered id
    seeds = set(AI.read_model(idx)["seeds"])
    victims = [
        r.vec_id for r in initial.collect() if r.vec_id not in seeds
    ][:2]
    victims.append(delivery.select("vec_id").first()[0])
    out = AI.forget_vecs(spark, idx, victims)
    assert out["deleted_rows"] == 3  # array layout: one row per id

    # gone from search even as generous neighbors
    res = AI.search_ann_index(
        spark, idx, q, corpus=emb, k=10, n_probe=8, rerank=400
    )
    got_neighbors = {r.neighbor_id for r in res.collect()}
    assert not (got_neighbors & set(victims))

    # gone from EVERY parquet byte under the index dir (snapshots,
    # deltas, leftovers) — the privacy property, checked on disk
    for d in glob.glob(os.path.join(idx, "*")):
        if not os.path.isdir(d):
            continue
        rows = spark.read.parquet(d).filter(
            F.col("vec_id").isin(victims)
        ).count()
        assert rows == 0, f"forgotten bytes persist in {d}"

    # retention rewound: only the swept snapshot remains
    snaps = [
        d for d in os.listdir(idx)
        if d.startswith("snap-") and os.path.isdir(os.path.join(idx, d))
    ]
    assert snaps == [out["snapshot"]]
    # no visible or invisible delta dirs hold anything
    assert not M.list_deltas(idx)

    # idempotent re-run
    again = AI.forget_vecs(spark, idx, victims)
    assert again["deleted_rows"] == 0

    # survivors still searchable; model sidecar survived the sweep
    assert AI.read_model(idx)["layout"] == AI._ARRAY
    assert res.count() > 0


def test_forget_vecs_rows_layout_and_empty(spark, sf_dir, tmp_path):
    emb, initial, delivery, _q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index_deterministic(
        initial, idx, n_cells=8, m=8, ks=16, lloyd_rounds=0
    )
    AI.ann_ingest_sink(idx)(delivery, 1)
    victim = delivery.select("vec_id").first()[0]
    out = AI.forget_vecs(spark, idx, [victim])
    assert out["deleted_rows"] == 8  # rows layout: m rows per id
    resolved = AI.resolved_codes(spark, idx)
    assert resolved.filter(F.col("vid") == victim).count() == 0
    # empty id list: clean no-op
    assert AI.forget_vecs(spark, idx, [])["deleted_rows"] == 0


def test_forget_vecs_model_seed_residue_guard(spark, sf_dir, tmp_path):
    """An id whose RAW vector seeded the model must not be silently
    'forgotten' by deleting codes rows alone: the sweep refuses,
    allow_model_residue proceeds with the residue reported, and a
    recenter on a victim-free corpus is the complete remedy."""
    emb, initial, delivery, _q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index_deterministic(
        initial, idx, n_cells=8, m=8, ks=16, lloyd_rounds=0
    )
    seeds = AI.read_model(idx)["seeds"]
    assert seeds, "md5-seeded bootstrap must record its seed ids"
    victim = seeds[0]

    with pytest.raises(ValueError, match="seeded this index's model"):
        AI.forget_vecs(spark, idx, [victim])

    out = AI.forget_vecs(spark, idx, [victim], allow_model_residue=True)
    assert out["deleted_rows"] == 8  # rows layout
    assert out["model_residue_ids"] == [victim]
    assert AI.resolved_codes(spark, idx).filter(
        F.col("vid") == victim
    ).count() == 0

    # recenter on a victim-free corpus replaces model AND codes — the
    # complete remedy; the new model no longer flags the victim
    AI.recenter_ann_index(
        spark, idx, emb.filter(F.col("vec_id") != victim)
    )
    assert victim not in AI.read_model(idx)["seeds"]
    again = AI.forget_vecs(spark, idx, [victim])
    assert again["deleted_rows"] == 0


def test_forget_vecs_noop_still_rewinds_retention(spark, sf_dir, tmp_path):
    """A sweep that finds nothing to delete must STILL rewind snapshot
    retention: an earlier commit at keep_snapshots>=2 can leave the
    forgotten rows readable via time travel (r9 review finding)."""
    emb, initial, delivery, _q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    victim = initial.select("vec_id").first()[0]
    # recenter WITHOUT the victim at default retention: live snapshot
    # lacks the victim, but the bootstrap snapshot (victim present)
    # stays time-travelable
    AI.recenter_ann_index(
        spark, idx, emb.filter(F.col("vec_id") != victim),
        keep_snapshots=2,
    )
    snaps = sorted(
        d for d in os.listdir(idx)
        if d.startswith("snap-") and os.path.isdir(os.path.join(idx, d))
    )
    assert len(snaps) == 2  # the retained pre-recenter snapshot

    out = AI.forget_vecs(spark, idx, [victim])
    assert out["deleted_rows"] == 0  # live rows were already clean
    snaps = sorted(
        d for d in os.listdir(idx)
        if d.startswith("snap-") and os.path.isdir(os.path.join(idx, d))
    )
    assert snaps == [M.current_snapshot(idx)]  # retention rewound


def test_forget_vecs_ids_frame_by_name(spark, sf_dir, tmp_path):
    emb, initial, delivery, _q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    victim = delivery.select("vec_id").first()[0]
    AI.ann_ingest_sink(idx)(delivery, 1)
    # multi-column frame: the id column is selected BY NAME
    ids_frame = emb.filter(F.col("vec_id") == victim).select(
        "vec_id", "embedding"
    )
    out = AI.forget_vecs(spark, idx, ids_frame)
    assert out["deleted_rows"] == 1
    # multi-column frame WITHOUT a recognizable id column: refused
    bad = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="must carry"):
        AI.forget_vecs(spark, idx, bad)


def test_quantization_report_and_drift_trigger(spark, sf_dir, tmp_path):
    """Recenter cadence instrumentation: the per-cell report accounts
    for every corpus vector; a recorded baseline makes drift_summary's
    ratio meaningful; recentering on the grown corpus does not degrade
    quantization (the maintenance op is worth its cost)."""
    emb, initial, delivery, _q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    base_err = AI.record_baseline_qerr(spark, idx, initial)
    assert base_err > 0.0
    assert AI.read_model(idx)["baseline_qerr"] == base_err

    AI.ann_ingest_sink(idx)(delivery, 1)
    rep = AI.quantization_report(spark, idx, emb).collect()
    assert sum(r.n_vectors for r in rep) == emb.count()
    assert all(r.mean_qerr >= 0.0 for r in rep)

    summary = AI.drift_summary(spark, idx, emb)
    assert summary["baseline_qerr"] == base_err
    assert summary["qerr_ratio"] == summary["mean_qerr"] / base_err
    assert summary["imbalance"] >= 1.0
    # same-distribution delivery: no recenter needed at sane thresholds
    assert not AI.drift_summary(
        spark, idx, emb, imbalance_threshold=8.0, qerr_ratio_threshold=4.0
    )["recenter_recommended"]
    # absurdly tight thresholds do trigger (the knob is live)
    assert AI.drift_summary(
        spark, idx, emb, imbalance_threshold=1.0, qerr_ratio_threshold=0.5
    )["recenter_recommended"]

    before = summary["mean_qerr"]
    AI.recenter_ann_index(spark, idx, emb, refine_iters=1)
    AI.record_baseline_qerr(spark, idx, emb)
    after = AI.drift_summary(spark, idx, emb)
    assert after["mean_qerr"] <= before * 1.05  # recenter helps (or ties)
    assert after["qerr_ratio"] == __import__("pytest").approx(1.0)


def test_drift_policy_loop_end_to_end(spark, sf_dir, tmp_path):
    """The full maintenance policy loop, driven end-to-end: a
    distribution-shifted delivery pushes the drift trigger over its
    DEFAULT thresholds, recentering on the grown corpus recovers
    search recall, resets the trigger, and resets the model-residue
    seed set so a previously-refused forget_vecs proceeds."""
    emb, initial, _d, _q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann")
    AI.bootstrap_ann_index(initial, idx, n_cells=8, m=8, ks=16)
    AI.record_baseline_qerr(spark, idx, initial)
    old_seeds = set(AI.read_model(idx)["seeds"])

    # a translated clone of the corpus: same internal geometry, far
    # outside every trained cell — the classic ingest-drift shape
    shifted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x + F.lit(25.0)).cast("float")
        ).alias("embedding"),
        "label",
    )
    AI.ann_ingest_sink(idx)(shifted, 1)
    grown = initial.unionByName(shifted)

    # 1. the trigger crosses at DEFAULT thresholds (imbalance: the
    #    whole shifted cloud lands in a handful of stale cells)
    summary = AI.drift_summary(spark, idx, grown)
    assert summary["recenter_recommended"]
    assert summary["imbalance"] > 4.0 or summary["qerr_ratio"] > 2.0

    # 2. search quality in the shifted region is degraded: the stale
    #    model gives near-identical codes to every shifted vector, so
    #    the ADC shortlist is arbitrary (measured ~0.5 here)
    q = shifted.filter(F.col("vec_id") < 100005)
    from solar_logger_spark.operators.similarity import topk_bruteforce

    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_bruteforce(grown, q, k=5).collect()
    }

    def recall():
        got = {
            (r.query_id, r.neighbor_id)
            for r in AI.search_ann_index(
                spark, idx, q, corpus=grown, k=5, n_probe=8, rerank=200
            ).collect()
        }
        return len(got & exact) / len(exact)

    before = recall()
    assert before <= 0.7

    # 3. while the trigger is pending, forget for a model-seed id is
    #    refused (its raw vector survives in the sidecar)
    victim = sorted(old_seeds)[0]
    with pytest.raises(ValueError, match="model"):
        AI.forget_vecs(spark, idx, [victim])

    # 4. run the recommended maintenance: retrain on the grown corpus
    AI.recenter_ann_index(spark, idx, grown, refine_iters=2)
    AI.record_baseline_qerr(spark, idx, grown)

    # 5. recall recovers (measured 0.84 vs 0.48 at these params)...
    after = recall()
    assert after >= 0.75 and after >= before + 0.1

    # 6. ...the trigger resets...
    post = AI.drift_summary(spark, idx, grown)
    assert not post["recenter_recommended"]
    assert post["qerr_ratio"] == pytest.approx(1.0)

    # 7. ...and the seed set reset: ids that seeded the OLD model but
    #    not the new one are now forgettable (the refused sweep above
    #    is unblocked by the maintenance op, as documented)
    new_seeds = set(AI.read_model(idx)["seeds"])
    assert old_seeds != new_seeds
    forgettable = sorted(old_seeds - new_seeds)
    assert forgettable, "recenter on the grown corpus re-picked every seed"
    victim = forgettable[0]
    out = AI.forget_vecs(spark, idx, [victim])
    assert out["deleted_rows"] >= 1
    hits = AI.search_ann_index(
        spark, idx, q, corpus=grown.filter(F.col("vec_id") != victim),
        k=5, n_probe=8, rerank=200,
    ).filter(F.col("neighbor_id") == victim)
    assert hits.count() == 0


def _string_corpus(df):
    """The same embeddings with string keys: 'doc-<vec_id>'."""
    return df.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
        .alias("vec_id"),
        "embedding",
    )


def test_string_keyed_index_end_to_end(spark, sf_dir, tmp_path):
    """r11 (VERDICT task #5): a string-keyed corpus works end to end —
    bootstrap (pinned xxhash64 surrogates + persisted _id_map sibling
    table), O(batch) delivery with map delta appends, search returning
    the ORIGINAL string ids that mirror the integer-keyed index's
    neighbors 1:1, compaction folding the map tail, and a forget_vecs
    round-trip that removes codes rows AND the map rows holding the
    forgotten string."""
    emb, initial, delivery, q = _load(spark, sf_dir)
    # integer-keyed twin for the 1:1 comparison
    idx_i = str(tmp_path / "ann_int")
    AI.bootstrap_ann_index(initial, idx_i, n_cells=8, m=8, ks=16)
    AI.ann_ingest_sink(idx_i)(delivery, 1)

    idx = str(tmp_path / "ann_str")
    AI.bootstrap_ann_index(_string_corpus(initial), idx,
                           n_cells=8, m=8, ks=16)
    assert AI.read_model(idx)["string_ids"] is True
    # map persisted with one row per bootstrap id
    mp = AI.read_id_map(spark, idx)
    assert mp.count() == initial.count()
    AI.ann_ingest_sink(idx)(_string_corpus(delivery), 1)
    assert M.list_deltas(AI._map_dir(idx)) != []  # O(batch) map append

    got = AI.search_ann_index(
        spark, idx, _string_corpus(q), corpus=_string_corpus(emb),
        k=5, n_probe=4, rerank=50,
    ).collect()
    assert len(got) == 25
    assert all(r.query_id.startswith("doc-") for r in got)
    assert all(r.neighbor_id.startswith("doc-") for r in got)
    # surrogate training sees different ids than the integer twin
    # (xxhash64 of strings), so models may differ; the CODES path and
    # translation are what this pins: every returned id round-trips
    # the map, and a self-query's rank-1 neighbor behaves sanely
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert set(by_q) == {f"doc-{i}" for i in range(5)}
    for qid, ns in by_q.items():
        assert len(ns) == 5 and len({n for _, n in ns}) == 5

    # compaction folds the map delta tail and keeps translation intact
    AI.compact_ann_index(spark, idx)
    assert M.list_deltas(AI._map_dir(idx)) == []
    got2 = AI.search_ann_index(
        spark, idx, _string_corpus(q), corpus=_string_corpus(emb),
        k=5, n_probe=4, rerank=50,
    ).collect()
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in got2) == \
        sorted((r.query_id, r.neighbor_id, r.rank) for r in got)

    # ---- forget round-trip on a string id --------------------------
    victim = "doc-3"
    seeds = set(AI.read_model(idx)["seeds"])
    sid = spark.sql(f"SELECT xxhash64('{victim}')").collect()[0][0]
    if sid in seeds:
        pytest.skip("victim seeded the model on this corpus draw")
    out = AI.forget_vecs(spark, idx, [victim])
    assert out["deleted_rows"] > 0
    # codes rows gone
    base = M.read_table_snapshot(spark, idx)
    assert base.filter(F.col("vec_id") == sid).count() == 0
    # the map row holding the string is gone too
    mp2 = AI.read_id_map(spark, idx)
    assert mp2.filter(F.col("orig") == victim).count() == 0
    assert mp2.filter(F.col("sid") == sid).count() == 0
    # and search no longer surfaces the victim as anyone's neighbor
    got3 = AI.search_ann_index(
        spark, idx, _string_corpus(q), corpus=_string_corpus(emb),
        k=5, n_probe=4, rerank=50,
    ).collect()
    assert all(r.neighbor_id != victim for r in got3)


def test_string_keyed_deterministic_bootstrap_and_collision_guard(
    spark, sf_dir, tmp_path
):
    """The rows-layout bootstrap bridges string ids identically (the
    surrogate is the pinned hash of the string, so bridging BEFORE the
    deterministic trainer equals pre-hashing the corpus yourself), and
    the collision guard raises a named error on two strings sharing a
    surrogate."""
    _, initial, _, q = _load(spark, sf_dir)
    idx = str(tmp_path / "det_str")
    AI.bootstrap_ann_index_deterministic(
        _string_corpus(initial), idx, n_cells=8, m=8, ks=16,
        lloyd_rounds=0,
    )
    idx2 = str(tmp_path / "det_pre")
    AI.bootstrap_ann_index_deterministic(
        _string_corpus(initial).withColumn(
            "vec_id", F.xxhash64("vec_id")
        ),
        idx2, n_cells=8, m=8, ks=16, lloyd_rounds=0,
    )
    a = sorted(map(tuple, M.read_table_snapshot(spark, idx).collect()))
    b = sorted(map(tuple, M.read_table_snapshot(spark, idx2).collect()))
    assert a == b  # bridge == pre-hash, bit-for-bit

    # collision guard: fabricate two ids forced onto one surrogate by
    # monkeypatching the surrogate to a constant
    import solar_logger_spark.streaming.ann_ingest as ai_mod

    orig_sid = ai_mod._sid
    ai_mod._sid = lambda col: F.lit(7).cast("long")
    try:
        with pytest.raises(ValueError, match="collision"):
            AI.bootstrap_ann_index(
                _string_corpus(initial.limit(4)),
                str(tmp_path / "collide"), n_cells=2, m=8, ks=2,
            )
    finally:
        ai_mod._sid = orig_sid


def test_string_keyed_search_with_fresh_query_ids(spark, sf_dir, tmp_path):
    """r12 (ADVICE high): query ids that were NEVER indexed — the
    normal case for fresh query vectors — must still come back with
    their original strings. The old restore inner-joined the persisted
    _id_map on query_id too, which only holds corpus/delivery ids, so
    a fresh query's rows were silently dropped (empty shortlist)."""
    emb, initial, delivery, q = _load(spark, sf_dir)
    idx = str(tmp_path / "ann_fresh_q")
    AI.bootstrap_ann_index(_string_corpus(initial), idx,
                           n_cells=8, m=8, ks=16)
    AI.ann_ingest_sink(idx)(_string_corpus(delivery), 1)

    fresh_q = q.select(
        F.concat(F.lit("query/"), F.col("vec_id").cast("string"))
        .alias("vec_id"),
        "embedding",
    )
    # sanity: none of the fresh ids are in the persisted map
    mp = AI.read_id_map(spark, idx)
    assert mp.filter(F.col("orig").startswith("query/")).count() == 0

    got = AI.search_ann_index(
        spark, idx, fresh_q, corpus=_string_corpus(emb),
        k=5, n_probe=4, rerank=50,
    ).collect()
    assert len(got) == 25
    assert {r.query_id for r in got} == {f"query/{i}" for i in range(5)}
    assert all(r.neighbor_id.startswith("doc-") for r in got)

    # and the fresh-id results mirror the same vectors queried under
    # corpus-member ids, modulo the designed self-pair drop: a member
    # id excludes itself, a fresh id legitimately surfaces its corpus
    # twin at rank 1 (distance 0), then the member ranks 1..4 follow
    member = {}
    for r in AI.search_ann_index(
        spark, idx, _string_corpus(q), corpus=_string_corpus(emb),
        k=5, n_probe=4, rerank=50,
    ).collect():
        member.setdefault(r.query_id, []).append(
            (r.rank, r.neighbor_id)
        )
    fresh = {}
    for r in got:
        fresh.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for i in range(5):
        fr = [n for _, n in sorted(fresh[f"query/{i}"])]
        mr = [n for _, n in sorted(member[f"doc-{i}"])]
        assert fr[0] == f"doc-{i}"   # the corpus twin, self-pair kept
        assert fr[1:] == mr[:4]
