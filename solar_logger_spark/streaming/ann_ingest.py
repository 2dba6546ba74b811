"""Persisted, incrementally-maintained ANN index (IVF-PQ) — the
similarity-search sibling of the ``dedup_ingest`` maintained-index
loop.

Composes two shipped pieces: the IVF-PQ index machinery
(``operators.pq`` — coarse cells + residual product codes, Jégou 2011)
and the ``io.merge`` copy-on-write snapshot store with its O(batch)
delta log. The index is ONE merge-managed table::

    index_dir/
      snap-00000N/            codes, hive-partitioned by cell
        _ann_model            the WHOLE model (centroids + codebooks +
                              params) as a JSON sidecar — committed
                              atomically with the codes snapshot, so a
                              reader resolving _CURRENT always sees
                              codes and the model they were encoded
                              against in the same commit
      delta-00000K/           per-delivery encoded codes (O(batch))
      _CURRENT, _delta_floor

Lifecycle:

* :func:`bootstrap_ann_index` trains the model on the initial corpus
  (numpy trainers — the throughput path) or
  :func:`bootstrap_ann_index_deterministic` (md5-seeded pinned-fold
  trainers — the reproducible-build/oracle path), encodes it, and
  commits snapshot 0 with the model sidecar.
* :func:`ann_ingest_sink` is a ``foreachBatch`` function: each
  delivery encodes MAP-ONLY against the PINNED model from the live
  snapshot and appends an immutable delta — no base rewrite, no
  retraining, O(batch) per delivery (the property that keeps a
  100 TB index maintainable).
* :func:`search_ann_index` resolves base ∪ deltas latest-epoch-per-id
  (the delta tail is batch-sized: resolution is a window over the
  DELTAS ONLY plus one anti-join against the base — never an
  index-wide shuffle) and searches: the numpy ADC kernel
  (``pq.topk_ivfpq``) for array-layout indexes, the pinned-fold
  deterministic pipeline (``pq._adc_rank_tail``) for rows-layout.
* :func:`compact_ann_index` folds the delta tail into the next base
  snapshot latest-epoch-per-id (replayed deliveries collapse), carries
  the model sidecar forward, and re-clusters one file per cell.
* :func:`recenter_ann_index` is the heavyweight maintenance op:
  retrain on the current corpus, re-encode everything, replace the
  table — O(index), paid on the recenter cadence only.

Replay/idempotency contract (``foreachBatch`` may re-run a batch
after a crash): deliveries are deduped by id batch-side, the replayed
delta's rows are byte-identical (same pinned model, deterministic
encode) and land under a higher epoch, and both the read path and
compaction keep only the highest epoch per id — a replay converges to
the same search results immediately and to the same bytes at the next
compaction. A RE-delivered id with a CHANGED vector follows the same
rule: its latest encoding wins, including across a cell move.

(Reference scope: the reference has no ANN/vector surface at all —
this is the beyond-reference LLM-pipeline family, maintained-index
form.)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from solar_logger_spark.io import merge as M

MODEL_SIDECAR = "_ann_model"

_ARRAY = "array"  # (id, cell, codes array<int>)  — numpy kernel layout
_ROWS = "rows"    # (id, cell, ms, code) rows     — pinned-fold layout


# ---------------------------------------------------------------------------
# model sidecar
# ---------------------------------------------------------------------------

def _model_json(cents, books_dict, layout, id_col, vec_col, m, ks,
                seeds=(), string_ids=False) -> str:
    """The model as JSON: python floats serialize via repr (shortest
    round-trip), so every centroid/codebook double survives the
    persistence hop bit-exactly.

    ``seeds``: the ids whose RAW vectors may appear verbatim in the
    model (md5/hash-seeded init entries that no Lloyd averaging has
    replaced — conservative superset). Recorded so a forget sweep can
    detect that deleting an id's codes rows is NOT enough: the model
    sidecar itself would retain the embedding (``forget_vecs``'s
    model-residue guard). Storing the pseudonymous ids is the
    documented lesser residue, same trade as the dedup sweep's
    label-value note."""
    return json.dumps({
        "layout": layout, "id_col": id_col, "vec_col": vec_col,
        "m": int(m), "ks": int(ks),
        "string_ids": bool(string_ids),
        "seeds": sorted(int(s) for s in set(seeds)),
        "centroids": [[float(x) for x in c] for c in cents],
        "codebooks": [
            {"ms": int(msi), "code": int(cd),
             "c": [float(x) for x in v]}
            for (msi, cd), v in sorted(books_dict.items())
        ],
    })


def read_model(index_dir: str) -> dict:
    """The live snapshot's model (centroids/codebooks/params), or
    raises if the index was never bootstrapped."""
    raw = M.read_sidecar(index_dir, MODEL_SIDECAR)
    if raw is None:
        raise FileNotFoundError(
            f"no {MODEL_SIDECAR} sidecar in {index_dir} — not an ANN "
            "index (bootstrap_ann_index first)"
        )
    model = json.loads(raw)
    model.setdefault("seeds", [])
    model.setdefault("string_ids", False)
    model["books_dict"] = {
        (b["ms"], b["code"]): list(b["c"]) for b in model["codebooks"]
    }
    return model


# ---------------------------------------------------------------------------
# bootstrap
# ---------------------------------------------------------------------------

def _require_integral_id(corpus: DataFrame, id_col: str) -> None:
    """The maintained-index core assumes integer ids end to end: the
    model sidecar serializes ``seeds`` via ``int()`` and
    ``forget_vecs``'s residue guard intersects them as Python ints.
    STRING ids are bridged automatically through the pinned xxhash64
    surrogate map (see ``_bridge_bootstrap``); any other type is a
    named error at the boundary instead of an opaque ``int()``
    ValueError mid-bootstrap."""
    from pyspark.sql import types as T

    dt = corpus.schema[id_col].dataType
    if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
        raise TypeError(
            f"ANN index id column {id_col!r} must be an integral type "
            f"(the model sidecar's seed registry and forget_vecs's "
            f"residue guard key on int ids) or a string (bridged via "
            f"the pinned xxhash64 id map); got {dt.simpleString()}."
        )


# ---------------------------------------------------------------------------
# string-id bridge (pinned xxhash64 surrogate map)
# ---------------------------------------------------------------------------

ID_MAP_DIR = "_id_map"


def _map_dir(index_dir: str) -> str:
    return os.path.join(index_dir, ID_MAP_DIR)


def _is_string_id(df: DataFrame, id_col: str) -> bool:
    from pyspark.sql import types as T

    return isinstance(df.schema[id_col].dataType, T.StringType)


def _sid(col):
    """The pinned surrogate: Spark's ``xxhash64`` with its default
    fixed seed (42) — deterministic across sessions and engines, so a
    string id always maps to the same bigint without consulting any
    state (bootstrap, deliveries, queries, and forget requests can all
    re-derive it independently)."""
    return F.xxhash64(col)


def _id_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """Distinct ``(sid, orig)`` rows for ``df``'s string ids."""
    return (
        df.select(F.col(id_col).cast("string").alias("orig"))
        .distinct()
        .select(_sid(F.col("orig")).alias("sid"), "orig")
    )


def _check_sid_collisions(pairs: DataFrame, where: str) -> None:
    """Refuse with a named error if two distinct strings share an
    xxhash64 surrogate (2⁻⁶⁴-scale event, but silence would merge two
    documents' vectors under one id). ``pairs`` must already be
    distinct on (sid, orig)."""
    hit = (
        pairs.groupBy("sid")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_list("orig").alias("o"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if hit:
        raise ValueError(
            f"xxhash64 surrogate collision in {where}: ids "
            f"{hit[0]['o']} share sid {hit[0]['sid']} — assign these "
            "documents explicit bigint ids before indexing"
        )


def _bridge_bootstrap(corpus: DataFrame, index_dir: str,
                      id_col: str) -> DataFrame:
    """Replace a string id column with its pinned xxhash64 surrogate
    and persist the ``(sid, orig)`` map as a sibling snapshot table
    under ``index_dir/_id_map`` (same copy-on-write store as the codes
    — deliveries append O(batch) map deltas, compaction folds them,
    ``forget_vecs`` deletes rows so the forgotten string itself leaves
    the map). Collision-checked over the full bootstrap corpus.
    Idempotent under bootstrap replay (replace, never collide)."""
    pairs = _id_pairs(corpus, id_col)
    _check_sid_collisions(pairs, "bootstrap corpus")
    mdir = _map_dir(index_dir)
    if M.current_snapshot(mdir) is None:
        M.init_table(pairs, mdir)
    else:  # replayed bootstrap after a crash: replace, don't collide
        M.replace_table(pairs, mdir, keep_snapshots=1)
    return corpus.withColumn(id_col, _sid(F.col(id_col)))


def read_id_map(spark: SparkSession, index_dir: str) -> DataFrame:
    """The live ``(sid, orig)`` map including O(batch) delta appends
    not yet folded by ``compact_ann_index``."""
    return M.read_table_with_deltas(spark, _map_dir(index_dir)).select(
        "sid", "orig"
    ).distinct()


def bootstrap_ann_index(
    corpus: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    refine_iters: int = 1,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Train (numpy — ``pq.build_ivfpq``), encode, and commit snapshot
    0 of the maintained index. Codes land hive-partitioned by ``cell``
    (probes prune to their cells' directories); the model commits as a
    sidecar of the same snapshot. Returns the snapshot name.

    Model residue bookkeeping: the coarse centroids seed from VERBATIM
    corpus vectors (``seeded_centroids``) and the PQ codebooks from
    the first-``ks`` rows of the hash-ordered training sample — and
    although Lloyd sweeps replace most entries with means, an EMPTY
    cluster keeps its verbatim init vector at ANY iteration count
    (``kmeans_refine``/``_lloyd`` both skip empty clusters), so ALL
    init ids are recorded as model ``seeds`` for ``forget_vecs``'s
    residue guard — a conservative superset, same rule as the
    deterministic bootstrap. Caveat, documented not hidden: a trained
    mean over a SINGLETON cluster still equals one vector — the guard
    covers the structural verbatim cases, recenter covers the rest."""
    import numpy as np
    from solar_logger_spark.operators import pq

    string_ids = _is_string_id(corpus, id_col)
    if string_ids:
        corpus = _bridge_bootstrap(corpus, index_dir, id_col)
    else:
        _require_integral_id(corpus, id_col)
    encoded, cents, books = pq.build_ivfpq(
        corpus, n_cells=n_cells, m=m, ks=ks, refine_iters=refine_iters,
        sample_size=sample_size, id_col=id_col, vec_col=vec_col,
    )
    seeds = _numpy_seed_ids(corpus, id_col, n_cells, ks)
    books = np.asarray(books)
    bdict = {
        (j, c): [float(x) for x in books[j, c]]
        for j in range(books.shape[0]) for c in range(books.shape[1])
    }
    return M.init_table(
        encoded, index_dir, partition_by=["cell"],
        sidecar={MODEL_SIDECAR: _model_json(
            [list(map(float, c)) for c in np.asarray(cents)],
            bdict, _ARRAY, id_col, vec_col, m, ks, seeds=seeds,
            string_ids=string_ids,
        )},
    )


def _numpy_seed_ids(corpus, id_col, n_cells, ks) -> list:
    """The ids whose raw vectors can survive verbatim in a
    numpy-trained model: seeded_centroids' n_cells picks (xxhash
    order) plus the PQ init rows — the first ks of the hash-ordered
    training sample (``_collect_sample`` orders by (_h, id);
    ``_lloyd`` inits from ``data[:k]``). Conservative superset: most
    are Lloyd-replaced, empty clusters keep them."""
    coarse = [
        r[0] for r in corpus.select(id_col)
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h").limit(n_cells).collect()
    ]
    book = [
        r[0] for r in corpus.select(id_col)
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h", id_col).limit(ks).collect()
    ]
    return sorted(set(coarse) | set(book))


def bootstrap_ann_index_deterministic(
    corpus: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    lloyd_rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """The reproducible-build bootstrap: md5-seeded coarse cells (the
    ``n_cells`` smallest ``md5('ivfpq|'||id)`` unit vectors, hash
    order — no coarse Lloyd: the pinned cells ARE the codebook until a
    recenter) and md5-seeded residual codebooks refined by
    ``lloyd_rounds`` pinned hierarchical-fold sweeps — every float
    re-derivable by a SQL engine (the ``similarity_ann_maintained``
    oracle replays bootstrap + delivery + search bit-for-bit). Codes
    land in ROWS layout (one row per (id, subspace)) — the shape the
    pinned-fold ADC search consumes."""
    from solar_logger_spark.operators import pq

    string_ids = _is_string_id(corpus, id_col)
    if string_ids:
        corpus = _bridge_bootstrap(corpus, index_dir, id_col)
    else:
        _require_integral_id(corpus, id_col)
    cents, books, rsubs, seeds = _det_train(
        corpus, n_cells, m, ks, lloyd_rounds, id_col, vec_col
    )
    # encode FROM the train step's checkpointed residual subvectors —
    # rebuilding them would re-run the normalize+assign+explode chain
    # over the whole bootstrap corpus a second time
    codes = pq._encode(rsubs, books, ["vid", "cell"]).select(
        "vid", "cell", "ms", "code"
    ).repartition("cell")
    # ^ cluster by cell so the partitionBy write lands one file per
    # cell (the compaction cadence's posture) instead of
    # |input partitions| x |cells| shards — the encode itself still
    # runs on the spread partitioning upstream of this exchange
    return M.init_table(
        codes, index_dir, partition_by=["cell"],
        sidecar={MODEL_SIDECAR: _model_json(
            cents, books, _ROWS, id_col, vec_col, m, ks, seeds=seeds,
            string_ids=string_ids,
        )},
    )


def _det_train(corpus, n_cells, m, ks, lloyd_rounds, id_col, vec_col):
    """Deterministic model training on the initial corpus — the
    training half of ``pq.topk_ivfpq_deterministic`` (coarse_rounds=0)
    with the trained model returned instead of consumed in place."""
    from solar_logger_spark.operators import pq
    from solar_logger_spark.operators.spread import spread_small

    # spread the single-partition bootstrap scan before the pinned
    # folds (normalize/assign/encode are per-row; means pin order)
    vn = pq._unit_rows(spread_small(corpus), id_col, vec_col, "vid", "v")
    init_rows = (
        vn.withColumn(
            "h", F.md5(F.concat(F.lit("ivfpq|"), F.col("vid").cast("string")))
        )
        .orderBy("h").limit(n_cells).collect()
    )  # bounded: n_cells rows
    if not init_rows:
        raise ValueError(
            "bootstrap_ann_index_deterministic: empty corpus"
        )
    # dim from the seed rows — saves the separate _vec_dim head() job
    dim = len(init_rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    cents = [list(r["v"]) for r in init_rows]
    # lazy checkpoint: _books_init's orderBy+limit collect scans every
    # partition, materializing it as a side effect (one fewer job)
    rsubs = _det_residual_subs(vn, cents, m, dsub).localCheckpoint(
        eager=False
    )
    books, book_seeds = pq._books_init(rsubs, "ivfpq|", ks, with_ids=True)
    books = pq._books_lloyd(corpus.sparkSession, rsubs, books, dsub,
                            lloyd_rounds)
    # conservative seed superset: Lloyd sweeps REPLACE most init
    # entries with means, but an empty code keeps its verbatim init
    # subvector at any lloyd_rounds — so every init id stays flagged
    seeds = sorted({r["vid"] for r in init_rows} | set(book_seeds))
    return cents, books, rsubs, seeds


def _det_residual_subs(vn, cents, m, dsub):
    """(vid, cell, sub) residual subvectors with pinned-L2 cell
    assignment — map-only (r12): fold the pinned d2 against each
    centroid of the inlined codebook and take the FIRST index achieving
    the minimum, which is exactly the (d2 asc, cell asc) window
    selection the SQL twin's ``casg`` CTE mirrors, without the
    crossJoin's n_cells-fold row inflation or the window's full-corpus
    shuffle. (The r8 note that the inlined fold measured 3× worse
    predates ``litfast.dlit``; re-measured r12 at sf0.1 the map-only
    form is at parity locally and strictly cheaper at scale — no
    corpus-sized exchange at all.)

    The ``+ 0 * rand`` term is a constraint-propagation firewall, not
    arithmetic (see pq.topk_ivfpq_deterministic._assign): it adds
    exactly 0 but flags the alias non-deterministic, so Catalyst
    records no `cell = <argmin fold over v>` constraint that downstream
    joins could push to a side where ``v`` cannot bind."""
    from solar_logger_spark.operators import pq
    from solar_logger_spark.operators.litfast import d2_s, dlit_s

    cl_s = dlit_s(list(cents))
    d2s = f"transform({cl_s}, _cc -> {d2_s('v', '_cc')})"
    assigned = vn.selectExpr(
        "vid", "v",
        f"CAST(array_position({d2s}, array_min({d2s})) - 1 AS INT)"
        " + CAST(rand(0) * 0 AS INT) AS cell",
    ).selectExpr(
        "vid", "cell",
        f"zip_with(v, element_at({cl_s}, cell + 1), "
        "(_za, _zb) -> _za - _zb) AS r",
    )
    return pq._subspace_rows(assigned, "r", m, dsub, "sub", ["vid", "cell"])


def _det_encode(df, cents, books, m, id_col, vec_col):
    """Map-only deterministic encode against a PINNED model → one row
    per (id, subspace): (vid, cell, ms, code)."""
    from solar_logger_spark.operators import pq

    vn = pq._unit_rows(df, id_col, vec_col, "vid", "v")
    dsub = len(cents[0]) // m
    rsubs = _det_residual_subs(vn, cents, m, dsub)
    return pq._encode(rsubs, books, ["vid", "cell"]).select(
        "vid", "cell", "ms", "code"
    )


# ---------------------------------------------------------------------------
# deliveries
# ---------------------------------------------------------------------------

def encode_delivery(batch_df: DataFrame, model: dict) -> DataFrame:
    """Encode a delivery against the pinned model — map-only in both
    layouts (numpy Arrow kernel / pinned-fold expressions), no
    training, no index read."""
    id_col, vec_col = model["id_col"], model["vec_col"]
    batch_df = batch_df.dropDuplicates([id_col])
    if model["layout"] == _ROWS:
        return _det_encode(
            batch_df, model["centroids"], model["books_dict"],
            model["m"], id_col, vec_col,
        )
    import numpy as np
    from solar_logger_spark.operators import pq
    from solar_logger_spark.operators.similarity import ivf_assign

    cents = np.asarray(model["centroids"], dtype=np.float64)
    books = _books_array(model)
    assigned = ivf_assign(batch_df, cents, id_col, vec_col)
    return pq.encode_ivfpq(assigned, cents, books, id_col, vec_col)


def _books_array(model):
    """Dense (m, ks_eff, dsub) codebook array. ks_eff is the HIGHEST
    code actually present, not the configured ks: a rows-layout model
    trained on fewer than ks subvectors has fewer codes, and zero-
    padding the gap would create phantom all-zero codes the real
    encoder never emits (they would silently win argmin scoring in the
    numpy kernels and understate quantization error)."""
    import numpy as np

    m = model["m"]
    ks_eff = 1 + max(b["code"] for b in model["codebooks"])
    dsub = len(model["codebooks"][0]["c"])
    books = np.zeros((m, ks_eff, dsub))
    for b in model["codebooks"]:
        books[b["ms"], b["code"]] = np.asarray(b["c"], dtype=np.float64)
    return books


def ann_ingest_sink(index_dir: str):
    """``foreachBatch`` function: encode each micro-batch of vectors
    against the live snapshot's pinned model and append an O(batch)
    codes delta — the per-delivery cost never touches the base.

    Usage::

        q = (vectors_stream.writeStream
             .foreachBatch(ann_ingest_sink(index_dir))
             .option("checkpointLocation", ckpt).start())
    """

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        # No separate empty-batch probe: append_delta detects an empty
        # delivery from the written files' footers (r13 — previously a
        # take(1) pre-probe; now the write itself is the delivery's
        # single scheduler job, materializing the lazy checkpoint).
        # read_model runs first even for an empty trigger, so the
        # bootstrap-first contract is enforced explicitly here
        # (ADVICE r10): an empty trigger against a not-yet-bootstrapped
        # index is a harmless no-op (the probe job is paid only on
        # this error path), a non-empty one is a real misuse and
        # raises a named error.
        try:
            model = read_model(index_dir)
        except FileNotFoundError:
            if not batch_df.take(1):
                return
            raise RuntimeError(
                f"ann_ingest_sink: delivery for {index_dir} arrived "
                "before the index was bootstrapped — run "
                "bootstrap_ann_index on a seed corpus before starting "
                "the stream"
            ) from None
        if model["string_ids"]:
            # O(batch) map maintenance: the batch's (sid, orig) pairs
            # append as a map delta (folded at compaction, which also
            # re-runs the cross-corpus collision check); only the
            # within-batch collision check runs per delivery — a
            # full-map join here would make every delivery O(index)
            pairs = _id_pairs(batch_df, model["id_col"]).localCheckpoint()
            _check_sid_collisions(pairs, "delivery batch")
            M.append_delta(_map_dir(index_dir), pairs)
            batch_df = batch_df.withColumn(
                model["id_col"], _sid(F.col(model["id_col"]))
            )
        encoded = encode_delivery(batch_df, model).localCheckpoint(
            eager=False
        )
        M.append_delta(index_dir, encoded, partition_by=["cell"])

    return _write


# ---------------------------------------------------------------------------
# read / search
# ---------------------------------------------------------------------------

def resolved_codes(spark: SparkSession, index_dir: str,
                   model: dict | None = None) -> DataFrame:
    """Base ∪ delta codes with latest-epoch-per-id resolution. The
    window runs over the DELTAS ONLY (batch-sized tail between
    compactions) and the base pays one anti-join against the resolved
    delta id set — never an index-wide shuffle. Base rows are clean by
    construction (bootstrap and compaction both commit resolved
    state)."""
    model = model or read_model(index_dir)
    id_col = model["id_col"]
    base = M.read_table_snapshot(spark, index_dir)
    ddirs = M.list_deltas(index_dir)
    if not ddirs:
        return base
    sch = base.schema
    tail = None
    for d in ddirs:
        part = spark.read.schema(sch).parquet(
            os.path.join(index_dir, d)
        ).withColumn("_epoch", F.lit(M._delta_idx(d)).cast("long"))
        tail = part if tail is None else tail.unionByName(part)
    w = Window.partitionBy("vid" if "vid" in sch.names else id_col)
    key = "vid" if "vid" in sch.names else id_col
    latest = (
        tail.withColumn("_mx", F.max("_epoch").over(w))
        .filter(F.col("_epoch") == F.col("_mx"))
        .drop("_mx", "_epoch")
    )
    return base.join(
        latest.select(key).distinct(), key, "left_anti"
    ).unionByName(latest)


def search_ann_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 0,
) -> DataFrame:
    """Top-k over the maintained index: vectors delivered since
    bootstrap are searchable immediately (delta resolution above).

    ``corpus`` (raw vectors): required when ``rerank > 0`` for the
    ``array`` layout, and ALWAYS required for the ``rows`` layout —
    its pinned-fold tail (:func:`pq._adc_rank_tail`) exact-rescores
    the shortlist against the raw vectors even at ``rerank=0`` (that
    exact rescue is what keeps the rows-layout hashes
    oracle-replayable); an ADC-only rows-layout mode does not exist.
    Output matches the other ANN operators:
    (query_id, neighbor_id, approx_dist, rank)."""
    from solar_logger_spark.operators import pq

    model = read_model(index_dir)
    codes = resolved_codes(spark, index_dir, model)
    id_col, vec_col = model["id_col"], model["vec_col"]
    qpairs = None
    if model["string_ids"]:
        # bridge string-keyed inputs to surrogates, search on bigints
        # below, then translate the result back to the original
        # strings. Neighbor ids are always corpus members, so the
        # persisted map resolves them; query ids need NOT be indexed
        # (a fresh query vector is the normal case), so their
        # (sid, orig) pairs are captured from the queries DataFrame
        # itself BEFORE bridging — an inner join against the persisted
        # map alone would silently drop every fresh query's rows.
        if _is_string_id(queries, id_col):
            qpairs = queries.select(
                _sid(F.col(id_col)).alias("sid"),
                F.col(id_col).alias("orig"),
            ).distinct()
            _check_sid_collisions(qpairs, "query set")
            queries = queries.withColumn(id_col, _sid(F.col(id_col)))
        if corpus is not None and _is_string_id(corpus, id_col):
            corpus = corpus.withColumn(id_col, _sid(F.col(id_col)))
    if model["layout"] == _ARRAY:
        import numpy as np

        res = pq.topk_ivfpq(
            codes, queries, np.asarray(model["centroids"]),
            _books_array(model), k=k, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col,
            rerank=rerank, raw=corpus,
        )
        return _restore_string_ids(spark, index_dir, model, res, qpairs)
    if corpus is None:
        raise ValueError(
            "rows-layout search re-ranks exactly against the raw "
            "vectors; pass corpus="
        )
    cents, books = model["centroids"], model["books_dict"]
    m = model["m"]
    from solar_logger_spark.operators.spread import spread_small

    dsub = len(cents[0]) // m
    # spread the single-partition raw-corpus scan feeding the exact
    # rescoring join (per-row folds; result is partition-invariant)
    vn = pq._unit_rows(spread_small(corpus), id_col, vec_col, "vid", "v")
    qn = pq._unit_rows(queries, id_col, vec_col, "query_id", "qv")
    cdf = F.broadcast(spark.createDataFrame(
        list(enumerate(cents)), "cell int, c array<double>"
    ))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    from solar_logger_spark.operators.litfast import d2_s

    probes = (
        qn.crossJoin(cdf)
        .withColumn("d2", F.expr(d2_s("qv", "c")))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .selectExpr(
            "query_id", "cell",
            "zip_with(qv, c, (_za, _zb) -> _za - _zb) AS qr",
        )
    )
    qrsubs = pq._subspace_rows(
        probes, "qr", m, dsub, "qsub", ["query_id", "cell"]
    )
    dtab = qrsubs.join(pq._books_bdf(spark, books), "ms").selectExpr(
        "query_id", "cell", "ms", "code",
        f"{d2_s('qsub', 'c')} AS d2",
    )
    res = pq._adc_rank_tail(
        codes, dtab, qn, vn, rerank, k, ["cell", "ms", "code"]
    )
    return _restore_string_ids(spark, index_dir, model, res, qpairs)


def _restore_string_ids(spark, index_dir, model, res: DataFrame,
                        qpairs: DataFrame | None = None):
    """For a string-keyed index: translate the surrogate query/neighbor
    ids of a search result back to the original strings. No-op for
    integer-keyed indexes.

    Neighbor ids are always corpus members, so the persisted map
    resolves them (inner join — a miss there would be a real index
    inconsistency). Query ids are translated from ``qpairs``, the
    (sid, orig) pairs captured from the caller's queries DataFrame
    before bridging: a fresh query vector whose id was never indexed
    (the normal case) has no persisted-map row, and an inner join
    against the map alone would silently drop all of its result rows
    (round-12 ADVICE fix). When the caller passed pre-bridged bigint
    query ids (``qpairs is None``), fall back to a LEFT join against
    the map, coalescing unmapped surrogates to their decimal string."""
    if not model["string_ids"]:
        return res
    mp = read_id_map(spark, index_dir)
    if qpairs is not None:
        # query-set-sized: always broadcastable
        qm = F.broadcast(qpairs.select(
            F.col("sid").alias("query_id"), F.col("orig").alias("_qo")
        ))
    else:
        qm = mp.select(
            F.col("sid").alias("query_id"), F.col("orig").alias("_qo")
        )
    nm = mp.select(
        F.col("sid").alias("neighbor_id"), F.col("orig").alias("_no")
    )
    return (
        res.join(qm, "query_id", "left")
        .join(nm, "neighbor_id")
        .select(
            F.coalesce(F.col("_qo"), F.col("query_id").cast("string"))
            .alias("query_id"),
            F.col("_no").alias("neighbor_id"),
            "approx_dist", "rank",
        )
    )


def quantization_report(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    model: dict | None = None,
) -> DataFrame:
    """Per-cell health of the PINNED model against the CURRENT corpus
    — the measurement behind the recenter cadence. For each coarse
    cell: how many of the corpus's vectors land there under the pinned
    model, and the mean/max squared reconstruction error (unit vector
    vs centroid + decoded residual codes). Drift shows up as both
    numbers moving: new deliveries that concentrate where the
    bootstrap corpus was sparse inflate occupancy skew, and vectors
    the pinned codebooks never saw inflate the error.

    One Arrow-batched map-only pass over ``corpus`` (assign + encode +
    decode + error against the broadcast model — no index read, no
    shuffle beyond the final per-cell agg); use
    :func:`drift_summary` for the scalar report / trigger.
    ``model``: pass an already-loaded :func:`read_model` dict to skip
    re-parsing the sidecar."""
    import numpy as np
    import pandas as pd

    model = model or read_model(index_dir)
    vec_col = model["vec_col"]
    cents = np.asarray(model["centroids"], dtype=np.float64)
    cn = np.sqrt((cents * cents).sum(axis=1))
    cn[cn == 0] = 1.0
    cu = cents / cn[:, None]
    books = _books_array(model)
    bc = spark.sparkContext.broadcast((cu, books))

    def _err(batches):
        cents_u, bks = bc.value
        m, _ks, dsub = bks.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            norms = np.sqrt((a * a).sum(axis=1))
            norms[norms == 0] = 1.0
            a = a / norms[:, None]
            cell = (a @ cents_u.T).argmax(axis=1)
            resid = a - cents_u[cell]
            recon = np.zeros_like(resid)
            for j in range(m):
                sub = resid[:, j * dsub:(j + 1) * dsub]
                d2 = ((sub[:, None, :] - bks[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                recon[:, j * dsub:(j + 1) * dsub] = bks[j][
                    d2.argmin(axis=1)
                ]
            qerr = ((resid - recon) ** 2).sum(axis=1)
            yield pd.DataFrame({
                "cell": cell.astype("int32"), "qerr": qerr,
            })

    per_vec = corpus.select(vec_col).mapInPandas(
        _err, "cell int, qerr double"
    )
    return per_vec.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.avg("qerr").alias("mean_qerr"),
        F.max("qerr").alias("max_qerr"),
    )


def drift_summary(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    imbalance_threshold: float = 4.0,
    qerr_ratio_threshold: float = 2.0,
) -> dict:
    """Scalar recenter trigger derived from :func:`quantization_report`
    plus the model's OWN baseline: at bootstrap/recenter time the
    commit records the corpus's mean quantization error in the model
    sidecar when available (older models lack it: the ratio falls back
    to 1.0 and only imbalance can trigger). Returns::

        {"imbalance": max/mean cell occupancy,
         "mean_qerr": current, "baseline_qerr": recorded or None,
         "qerr_ratio": current/baseline,
         "recenter_recommended": bool}
    """
    model = read_model(index_dir)
    rep = quantization_report(spark, index_dir, corpus, model).collect()
    n = sum(r["n_vectors"] for r in rep)
    if not rep or n == 0:
        return {
            "imbalance": 0.0, "mean_qerr": 0.0,
            "baseline_qerr": None, "qerr_ratio": 1.0,
            "recenter_recommended": False,
        }
    occ = [r["n_vectors"] for r in rep]
    n_cells = len(model["centroids"])
    imbalance = max(occ) / (n / n_cells)
    mean_qerr = sum(r["mean_qerr"] * r["n_vectors"] for r in rep) / n
    base = model.get("baseline_qerr")
    if base is None:
        ratio = 1.0  # no recorded denominator: imbalance-only trigger
    elif base == 0.0:
        # a perfectly-quantized baseline is a REAL denominator: any
        # later error is infinite drift, not "no signal"
        ratio = float("inf") if mean_qerr > 0.0 else 1.0
    else:
        ratio = mean_qerr / base
    return {
        "imbalance": float(imbalance),
        "mean_qerr": float(mean_qerr),
        "baseline_qerr": base,
        "qerr_ratio": float(ratio),
        "recenter_recommended": bool(
            imbalance > imbalance_threshold
            or ratio > qerr_ratio_threshold
        ),
    }


def record_baseline_qerr(
    spark: SparkSession, index_dir: str, corpus: DataFrame
) -> float:
    """Measure the current mean quantization error and commit it into
    the live snapshot's model sidecar as ``baseline_qerr`` (re-written
    sidecar file, same snapshot — the baseline is metadata ABOUT the
    model, not a new model). Call right after bootstrap/recenter, on
    the corpus the model was trained for; ``drift_summary`` then has a
    denominator."""
    rep = quantization_report(spark, index_dir, corpus).collect()
    n = sum(r["n_vectors"] for r in rep)
    mean_qerr = (
        sum(r["mean_qerr"] * r["n_vectors"] for r in rep) / n if n else 0.0
    )
    raw = json.loads(M.read_sidecar(index_dir, MODEL_SIDECAR))
    raw["baseline_qerr"] = float(mean_qerr)
    snap = M.current_snapshot(index_dir)
    path = os.path.join(index_dir, snap, MODEL_SIDECAR)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps(raw))
    os.replace(tmp, path)
    return float(mean_qerr)


def forget_vecs(
    spark: SparkSession,
    index_dir: str,
    vec_ids,
    keep_snapshots: int = 1,
    allow_model_residue: bool = False,
) -> dict:
    """Right-to-be-forgotten sweep over the maintained ANN index:
    remove every codes row of ``vec_ids`` — from the base snapshot AND
    from delta bytes — so a forgotten document's embedding can no
    longer be retrieved as anyone's neighbor. The ANN-side completion
    of ``dedup_ingest.forget_docs`` / ``export.forget_shards``
    (without it, a forgotten doc's vector keeps surfacing in
    similarity search: the same privacy bug, different table).

    Same discipline as the dedup sweep:

    * ``keep_snapshots`` defaults to **1** — retaining the pre-forget
      snapshot would retain the forgotten rows on disk and readable
      via time travel.
    * Pending deltas are COMPACTED first (``delete_keys`` refuses to
      orphan them, and their bytes hold the rows too), then the folded
      delta dirs are physically purged — the reader-grace retention
      every other flow enjoys IS the bug in a privacy sweep.
    * ids are cast to the stored id type before anything joins on
      them, and the ids' cells are located from the LIVE table rows
      (one column-pruned scan), never re-derived from a model the
      caller supplies — the delete then rewrites exactly those cell
      partitions and hardlinks the rest (``delete_keys``
      partition_scoped, whose contract this projection satisfies).
    * The model sidecar is carried through every commit.

    Model residue guard: the model sidecar can hold a seed id's RAW
    vector verbatim (md5/hash-seeded init entries — the bootstraps
    record those ids as model ``seeds``). Deleting such an id's codes
    rows would leave its embedding recoverable from the sidecar JSON,
    so the sweep REFUSES (``ValueError``) and tells the operator to
    ``recenter_ann_index`` on a victim-free corpus first (which
    replaces model and codes wholesale). ``allow_model_residue=True``
    proceeds anyway and reports the retained ids in
    ``"model_residue_ids"`` — for when the caller knows the entry was
    Lloyd-replaced. (A trained mean over a singleton cluster can still
    equal one vector; recenter is the complete remedy, this guard
    covers the structural verbatim case.)

    Re-running a completed sweep is a no-op that still enforces the
    retention rewind (an earlier commit at higher ``keep_snapshots``
    may have left forgotten rows time-travelable). Returns
    ``{"snapshot": live snapshot, "deleted_rows": n}`` (rows, not ids
    — the rows layout holds m rows per id)."""
    model = read_model(index_dir)
    id_col = model["id_col"]
    key = "vid" if model["layout"] == _ROWS else id_col
    raw_model = M.read_sidecar(index_dir, MODEL_SIDECAR)

    if not isinstance(vec_ids, DataFrame):
        from pyspark.sql import Row

        vec_ids = list(vec_ids)
        if not vec_ids:
            # "forget nothing" still enforces the retention rewind —
            # the same no-op semantics as an empty/already-swept
            # DataFrame (an earlier commit at higher keep_snapshots
            # may have left forgotten rows time-travelable)
            M._prune(index_dir, keep=keep_snapshots)
            return {
                "snapshot": M.current_snapshot(index_dir),
                "deleted_rows": 0,
            }
        vec_ids = spark.createDataFrame(
            [Row(**{key: v}) for v in vec_ids]
        )
    else:
        # select the id column BY NAME (layout key or the model's
        # id_col) — a positional toDF rename would crash multi-column
        # frames and silently rebind a mis-named single column to the
        # key, deleting the wrong rows
        cols = vec_ids.columns
        src = key if key in cols else (id_col if id_col in cols else None)
        if src is None:
            if len(cols) != 1:
                raise ValueError(
                    f"vec_ids frame must carry {key!r} or {id_col!r} "
                    f"(or be single-column); got columns {cols}"
                )
            src = cols[0]
        vec_ids = vec_ids.select(F.col(src).alias(key))

    # string-keyed index: forget requests arrive as the original
    # strings — translate to the pinned surrogate (re-derivable, no
    # map lookup needed) so the codes delete and the residue guard
    # run on the stored bigint key; the map rows themselves (which
    # hold the forgotten string verbatim) are deleted further down
    if model["string_ids"] and _is_string_id(vec_ids, key):
        vec_ids = vec_ids.withColumn(key, _sid(F.col(key)))
    # cast against the CURRENT base schema and run the residue guard
    # BEFORE any destructive maintenance — a sweep the guard refuses
    # must not have already compacted away retained snapshots and
    # purged delta bytes (r9 review finding)
    id_type = M.read_table_snapshot(spark, index_dir).schema[key].dataType
    ids = (
        vec_ids.select(F.col(key).cast(id_type).alias(key))
        .distinct().localCheckpoint()
    )
    id_vals = {r[0] for r in ids.collect()}  # bounded: the forget set
    # seeds serialize as ints; Spark long/int ids collect as Python
    # ints, so plain set intersection is exact
    residue = sorted(id_vals & set(model["seeds"]))
    if residue and not allow_model_residue:
        raise ValueError(
            f"ids {residue} seeded this index's model: their raw "
            "vectors live verbatim in the _ann_model sidecar, and "
            "deleting codes rows alone would retain them. Recenter "
            "the index on a corpus without them "
            "(recenter_ann_index) and re-run, or pass "
            "allow_model_residue=True to proceed with the residue "
            "documented in the result."
        )

    if M.list_deltas(index_dir):
        compact_ann_index(spark, index_dir, keep_snapshots=keep_snapshots)
    # folded delta dirs (this compaction's grace tail + any earlier
    # cadence's) still hold the bytes — purge, don't wait out grace
    M.purge_dead_deltas(index_dir)
    if model["string_ids"] and id_vals:
        # the (sid, orig) map rows hold the forgotten STRING verbatim —
        # a privacy sweep must remove them even when no codes rows
        # remain (e.g. a replayed sweep); same compact-purge-delete-
        # prune discipline as the codes table
        _forget_map_ids(spark, index_dir, ids, key, keep_snapshots)

    base = M.read_table_snapshot(spark, index_dir)
    if not id_vals:
        M._prune(index_dir, keep=keep_snapshots)
        return {
            "snapshot": M.current_snapshot(index_dir),
            "deleted_rows": 0,
        }
    # locate the ids' cells from the live rows (column-pruned scan);
    # also the deleted-row count, measured before the rewrite
    located = base.select(key, "cell").join(
        F.broadcast(ids), key, "left_semi"
    ).localCheckpoint()
    n_del = located.count()
    if n_del == 0:
        # nothing left to delete, but an earlier commit may have
        # retained pre-forget snapshots — enforce the rewind anyway
        M._prune(index_dir, keep=keep_snapshots)
        out = {
            "snapshot": M.current_snapshot(index_dir),
            "deleted_rows": 0,
        }
        if residue:
            out["model_residue_ids"] = residue
        return out
    snap = M.delete_keys(
        spark, index_dir, located, keys=[key],
        partition_by=["cell"], partition_scoped=True,
        keep_snapshots=keep_snapshots,
        sidecar={MODEL_SIDECAR: raw_model},
    )
    out = {"snapshot": snap, "deleted_rows": int(n_del)}
    if residue:
        out["model_residue_ids"] = residue
    return out


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------

def _forget_map_ids(spark, index_dir, ids, key, keep_snapshots):
    """Delete the forgotten sids' ``(sid, orig)`` rows from the id
    map: compact its delta tail first (``delete_keys`` refuses to
    orphan visible deltas, and the delta bytes hold the strings too),
    purge the folded dirs, delete, and rewind retention — the same
    no-time-travel discipline as the codes table."""
    mdir = _map_dir(index_dir)
    if M.list_deltas(mdir):
        M.compact_deltas(
            spark, mdir, keys=["sid", "orig"],
            keep_snapshots=keep_snapshots,
        )
    M.purge_dead_deltas(mdir)
    M.delete_keys(
        spark, mdir, ids.select(F.col(key).alias("sid")), keys=["sid"],
        keep_snapshots=keep_snapshots,
    )
    M._prune(mdir, keep=keep_snapshots)


def compact_ann_index(
    spark: SparkSession, index_dir: str, keep_snapshots: int = 2
) -> str:
    """Fold the delta tail into the next base snapshot latest-epoch-
    per-id (replayed deliveries and superseded re-deliveries collapse),
    carrying the model sidecar forward and re-clustering one file per
    cell. O(base + deltas), paid on the maintenance cadence."""
    model = read_model(index_dir)
    raw = M.read_sidecar(index_dir, MODEL_SIDECAR)
    key = "vid" if model["layout"] == _ROWS else model["id_col"]
    if model["string_ids"] and M.list_deltas(_map_dir(index_dir)):
        # fold the id-map delta tail on the same cadence, dedupe the
        # redelivered pairs ((sid, orig) is the full row), and run the
        # cross-corpus collision check the O(batch) delivery skipped
        M.compact_deltas(
            spark, _map_dir(index_dir), keys=["sid", "orig"],
            keep_snapshots=keep_snapshots,
        )
        _check_sid_collisions(
            M.read_table_snapshot(spark, _map_dir(index_dir)).distinct(),
            "compacted id map",
        )
    return M.compact_deltas(
        spark, index_dir, keys=[key], partition_by=["cell"],
        keep_snapshots=keep_snapshots,
        repartition=(1, "cell"), sidecar={MODEL_SIDECAR: raw},
    )


def recenter_ann_index(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    n_cells: int | None = None,
    refine_iters: int = 1,
    sample_size: int = 2048,
    keep_snapshots: int = 2,
) -> str:
    """The heavyweight maintenance op: retrain the model on the
    CURRENT corpus (numpy trainers), re-encode everything, and replace
    the table — model and codes swap in one atomic snapshot commit.
    Visible deltas are folded first (``replace_table`` refuses to
    silently orphan them). O(index) by design; run on the recenter
    cadence, not per delivery."""
    import numpy as np
    from solar_logger_spark.operators import pq

    if M.list_deltas(index_dir):
        compact_ann_index(spark, index_dir, keep_snapshots)
    old = read_model(index_dir)
    id_col, vec_col = old["id_col"], old["vec_col"]
    if old["string_ids"] and _is_string_id(corpus, id_col):
        # surrogates are re-derivable (pinned hash), so a retrain on a
        # string-keyed corpus bridges in place; the persisted map only
        # needs rows for ids the index has SEEN, which deliveries and
        # bootstrap already wrote
        corpus = corpus.withColumn(id_col, _sid(F.col(id_col)))
    k_cells = n_cells or len(old["centroids"])
    encoded, cents, books = pq.build_ivfpq(
        corpus, n_cells=k_cells,
        m=old["m"], ks=old["ks"], refine_iters=refine_iters,
        sample_size=sample_size, id_col=id_col, vec_col=vec_col,
    )
    seeds = _numpy_seed_ids(corpus, id_col, k_cells, old["ks"])
    books = np.asarray(books)
    bdict = {
        (j, c): [float(x) for x in books[j, c]]
        for j in range(books.shape[0]) for c in range(books.shape[1])
    }
    return M.replace_table(
        encoded, index_dir, keep_snapshots=keep_snapshots,
        partition_by=["cell"],
        sidecar={MODEL_SIDECAR: _model_json(
            [list(map(float, c)) for c in np.asarray(cents)],
            bdict, _ARRAY, id_col, vec_col, old["m"], old["ks"],
            seeds=seeds, string_ids=old["string_ids"],
        )},
    )
