"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's example query,
``src/app/influx_query.py:93-99``: range + measurement filter +
aggregateWindow(mean) + sort) on sf0.001.

This file only assembles. Each query module under
``solar_logger_spark/queries/`` (``flux``, ``relational``, ``scale_ops``)
ends with one ``QUERIES`` table of ``(name, builder, oracle_sql)`` rows,
and those rows are the only place a query is declared. ``queries()`` is
the name → builder view of the concatenated tables, in the order
``_registry_order`` gives for the per-round correctness budget;
``oracle_sql()`` is the name → DuckDB SQL view. Column names are aliased
identically on both sides, since results are hash-compared after
sorting columns by name. ``CHANGED_IN_ROUND`` annotates the few names
whose shape changed after their last green record.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from solar_logger_spark.queries import flux, relational, scale_ops

SF_SMOKE = "/root/testdata/sf0.001"

_TABLE = flux.QUERIES + relational.QUERIES + scale_ops.QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flux.q_flux_pipeline_full(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver's correctness harness walks this registry in order with
    # a ~50-entry budget per round. Order the registry so that budget
    # always lands on the queries that still need a (fresh) driver
    # record — computed from the committed CORRECTNESS_r*.json records
    # themselves, replacing the hand-maintained head list that rounds
    # 3-4 had to re-point every round.
    return _registry_order({name: build for name, build, _ in _TABLE})


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _TABLE}


# Queries whose implementation or oracle changed AFTER their last
# committed green row, mapped to the round the change shipped in: a
# green record for the OLD shape must not count as settled, so they
# re-check right after standing reds in _registry_order. SELF-
# RETIRING: once a green row exists from a round >= the change round,
# the entry is ignored (no human edit needed — the r3/r4 lesson that
# hand-repointed head lists go stale). Module-level so tools
# (tools/bench_compare.py) can exclude changed queries from ambient-
# drift estimates.
CHANGED_IN_ROUND = {
    # r5: schema changed (new columns) — old green rows are stale
    "profile_columns_lineitem": 5,
    # (dedup_editdistance_docs r5 NULL-safe-oracle pin superseded by
    # the r10 pin below — one key, latest round)
    # r5: ANN query batch changed from emb.limit(10) to the
    # deterministic vec_id < 10 — records predating r5 describe a
    # possibly-different row set (ADVICE r5); the r5 driver rows
    # themselves ran at post-change HEAD and satisfy the pin
    # r9: the Lloyd member means switched from flat id-ordered
    # folds (full per-cell member lists — the r8 skew hazard) to
    # bounded hierarchical 256-id-block folds, on BOTH engines:
    # different float association, different (still matching)
    # hashes — r8 green rows describe the old bits
    # (similarity_ann_pq / similarity_ann_ivfpq r9 pins superseded
    # by the r11 pins below — one key, latest round; similarity_ann_ivf
    # r9 pin superseded by the r11 pin below)
    # r6: similarity_ann_lsh gained a DuckDB oracle (deterministic
    # md5 hyperplanes); embedding_pca_project's declared output
    # reshaped to scalar pc0..pc7 columns after its array column
    # crashed the driver canonicalizer in r5
    "similarity_ann_lsh": 6,
    # r8: embedding_pca_project flipped rows-only -> oracle-backed
    # (pinned-fold moments + md5-seeded power-iteration eigensolve,
    # replayed in SQL as a recursive CTE)
    # (embedding_pca_project r8 pin superseded by the r11 pin below)
    # r7: NULL-basket/item filter added to operator AND oracle
    # (same results on lineitem, where keys are non-null) plus the
    # apriori min_item_support prefilter (output-invariant by
    # construction); BPE encode gained the vocab-frame lineage
    # barrier (plan-only change, output identical)
    # (basket_affinity_parts r7 pin superseded by the r10 pin below)
    "text_bpe_encode_docs": 7,
    # r7: lineage barriers on the kept frames (plan-only, output
    # identical — verified sf0.001 + vanilla sf0.01); supersedes
    # the r5 schema-change pin (one key, latest round)
    # (pipeline_corpus_build superseded again by the r10 pin below)
    # r10 plan-only rewrites, output identical (full sf0.001 sweep
    # + per-query sf0.01 oracle checks green at the change HEAD):
    # shingles/grams built AFTER the explode so the concat+hash
    # runs in whole-stage codegen instead of interpreted HOF
    # lambdas (every shingle consumer), the winnowing selection as
    # a sliding-window struct-min, the connected-components star
    # round as a window instead of groupBy+join, basket pair
    # fan-out as two Generates, and trainer/delivery job-count
    # cuts (lazy checkpoints, seed-row dims) in the deterministic
    # PQ paths
    "dedup_ngram_jaccard_docs": 10,
    "dedup_minhash_lsh_docs": 10,
    "dedup_containment_docs": 10,
    "dedup_ngram_span_coverage": 10,
    "dedup_benchmark_contamination": 10,
    "dedup_scrub_duplicate_spans": 10,
    "dedup_scrub_benchmark_spans": 10,
    "dedup_incremental_batch": 10,
    "dedup_leakage_matrix": 10,
    "text_repetition_signals_docs": 10,
    "pipeline_corpus_build": 10,
    "dedup_cluster_assignments": 10,
    "dedup_keep_best_quality": 10,
    "embedding_semantic_dedup": 10,
    "text_winnow_fingerprints": 10,
    "text_trigram_lm_quality": 10,
    "dedup_editdistance_docs": 10,
    "basket_affinity_parts": 10,
    # r11: the pinned hierarchical mean fold gained a THIRD level
    # (block partials fold within b DIV 256 superblocks before the
    # top fold) on BOTH engines — closes the O(N/block) hot-key
    # struct pile-up, the last named 100x-scale skew hazard. At
    # registry id ranges (vid < 65536: one superblock, and
    # 0.0 + x == x bit-exact) the outputs are bit-identical — verified
    # by a bitwise sf0.01 cross-engine sweep — but the association
    # CONTRACT changed, so the stale green rows re-verify.
    "similarity_ann_ivf": 11,
    "similarity_ann_pq": 11,
    "similarity_ann_ivfpq": 11,
    "embedding_pca_project": 11,
    # r12: the EMA-family recursions were rewritten as segmented
    # affine prefix scans (operators/affine_scan.py — within-series
    # parallel, JVM-side; VERDICT r11 task #1). Float association is
    # pinned to the hierarchical fold order and the oracles replay it
    # (queries/affine_scan_sql.py), so outputs carry different (still
    # bitwise cross-engine-verified at sf0.001 AND sf0.01) bits than
    # the retired sequential forms; the towers additionally collapsed
    # to single d=2/d=3 vector scans with closed-form constants.
    "ts_ema_events": 12,
    "ts_dema_events": 12,
    "ts_tema_events": 12,
    "ts_trix_events": 12,
    "ts_holt_smoothing_events": 12,
    "ts_kama_events": 12,
    }


def _registry_order(
    out: dict, records: dict[int, dict] | None = None
) -> dict:
    """Order queries for the driver's fixed correctness budget.

    Priority classes (stable original order within each):
      0. latest committed record is RED — a standing red row reads as
         a live failure and must never be starved out of the budget by
         new additions (the flux_agg_integral case from r2/r3);
      1. green record exists but the query's implementation or oracle
         changed in a later round (``changed_in_round``) — the stale
         green must re-verify the new shape; the pin self-retires
         once a green row from >= the change round lands;
      2. oracle-backed with no green row in ANY round's record — the
         hard hash-compare signal;
      3. rows-only, never checked — the weaker rows+schema signal;
      4. green and current — the long-proven tail.

    ``records`` maps round -> {query: row-dict} for tests; by default
    the committed CORRECTNESS_r*.json files next to this module are
    loaded. A malformed or missing record file degrades to "never
    checked" rather than crashing the driver import.
    """
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    if records is None:
        records = {}
        here = _os.path.dirname(_os.path.abspath(__file__))
        for path in sorted(_glob.glob(_os.path.join(here, "CORRECTNESS_r*.json"))):
            m = _re.search(r"_r(\d+)", _os.path.basename(path))
            if not m:
                continue
            try:
                with open(path) as fh:
                    rec = _json.load(fh)
            except (OSError, ValueError):
                continue
            if isinstance(rec, dict):
                records[int(m.group(1))] = rec

    def _is_green(row) -> bool:
        return (
            isinstance(row, dict)
            and bool(row.get("rows_match"))
            and bool(row.get("schema_match"))
            and row.get("hash_match") is not False
            and row.get("err") in (None, "")
        )

    # one pass: each query's latest (round, green) and latest row, and
    # the latest round it was green in (present iff ever green)
    latest: dict[str, tuple[int, bool]] = {}
    latest_row: dict[str, dict] = {}
    latest_green_round: dict[str, int] = {}
    for rnd in sorted(records):
        for name, row in records[rnd].items():
            ok = _is_green(row)
            latest[name] = (rnd, ok)
            latest_row[name] = row if isinstance(row, dict) else {}
            if ok:
                latest_green_round[name] = rnd

    oracle_backed = set(oracle_sql())
    changed_in_round = CHANGED_IN_ROUND

    def _stale_green(name: str) -> bool:
        rnd = changed_in_round.get(name)
        if rnd is None or name not in latest_green_round:
            return False
        return latest_green_round[name] < rnd

    def _settled_rows_only(name: str) -> bool:
        # A rows-only-BY-DESIGN query (absent from oracle_sql()) whose
        # latest record is the driver's expected "no_oracle" row with a
        # recorded row count is SETTLED, not red: it can never produce
        # a hash-green row, so classifying it red would park it at the
        # head of the budget forever, displacing real checks every
        # round (the r5 lesson — 5 permanently-red head entries). If
        # the query later GAINS an oracle it leaves this class and the
        # standing no_oracle record correctly reads as "re-check".
        if name in oracle_backed:
            return False
        row = latest_row.get(name, {})
        if not (
            row.get("err") == "no_oracle"
            and row.get("spark_rows") is not None
        ):
            return False
        # the record must postdate any declared implementation change:
        # a rows-only row taken against the OLD shape must re-verify
        rnd = changed_in_round.get(name)
        return rnd is None or latest[name][0] >= rnd

    def _prio(name: str) -> int:
        # 0: latest committed record is RED (regardless of history) —
        #    a standing red row on since-fixed code reads as a live
        #    failure in the record, and with a registry larger than the
        #    driver's ~50-row budget these re-checks must never be
        #    starved by a stream of new additions (the flux_agg_integral
        #    lesson: its r2 red sat outside the checked window for two
        #    rounds under never-checked-first ordering). EXCEPTION:
        #    rows-only-by-design queries whose latest record is the
        #    expected no_oracle row are settled (see _settled_rows_only)
        # 1: green record exists but the query changed since (stale
        #    green must re-verify the NEW shape before settling;
        #    self-retires once a green row from the change round lands)
        # 2: oracle-backed, never checked — the hard hash-compare signal
        # 3: rows-only, never checked — weak rows+schema signal
        # 4: green and current / settled rows-only
        if name in latest and not latest[name][1]:
            return 4 if _settled_rows_only(name) else 0
        if _stale_green(name):
            return 1
        if name not in latest_green_round:
            return 2 if name in oracle_backed else 3
        return 4

    names = list(out)
    pos = {n: i for i, n in enumerate(names)}
    names.sort(key=lambda n: (_prio(n), pos[n]))
    return {n: out[n] for n in names}
