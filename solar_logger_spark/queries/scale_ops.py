"""Scale-operator queries: dedup / similarity / text / multimodal over
the ``documents`` and ``embeddings`` tables, with DuckDB oracles where
the semantics are SQL-expressible.

Oracle notes:
* jaccard values are exact integer ratios → identical doubles in both
  engines;
* simhash / fingerprints use md5-derived integers so DuckDB reproduces
  them bit-for-bit;
* cosine is accumulated left-to-right in double on both sides;
* the MinHash-LSH query's oracle is the *exact* Jaccard-pairs SQL —
  valid because the (64 hashes, 32 bands) collision curve is ≈1.0 at
  the data's observed similarity gap (near-dups ≥0.8, next cluster
  ≤0.2), and candidates are exact-verified so false positives are
  impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from solar_logger_spark.durations import epoch_us
from solar_logger_spark.io.tables import load_table
from solar_logger_spark.queries import affine_scan_sql as _scan_sql
from solar_logger_spark.operators import (
    basket,
    cleaning,
    dedup,
    multimodal,
    similarity,
    text,
)


# -- dedup -----------------------------------------------------------------

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], id_col="doc_id").select(
        "doc_id", "dup_count"
    )


DEDUP_EXACT_SQL = """
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents GROUP BY text
"""


def dedup_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.5)


# Shared DuckDB CTE fragments for word-3-gram shingle pair counting —
# the single source the Jaccard / containment / keep-best oracles
# compose, so the shingle or pair formula can never drift between them.
_SHINGLE_PAIR_CTES_SQL = """words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
        SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in range(1, greatest(len(ws) - 1, 1))]) AS s
        FROM words
    ),
    sd AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM sd a JOIN sd b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""

# word-3-gram shingle sets, exact pair jaccard >= 0.5
NGRAM_JACCARD_SQL = f"""
    WITH {_SHINGLE_PAIR_CTES_SQL}
    SELECT a_id, b_id,
           CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
"""


def dedup_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=64, bands=32)


def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


def text_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs)


FINGERPRINT_SQL = """
    SELECT doc_id, md5(lower(text)) AS fp_md5,
           CAST(('0x' || substring(md5(lower(text)), 1, 15)) AS BIGINT) AS fp_int
    FROM documents
"""


# -- text analysis -----------------------------------------------------------

def text_token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_stats(docs)


TOKEN_STATS_SQL = """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
           length(text) - length(translate(text, '.,!?;:', '')) AS punct_count
    FROM documents
"""


def text_quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_score(docs)


_STOP_IN = ", ".join(f"'{w}'" for w in text.STOPWORDS)

# Single source of truth for the quality-score formula fragments that
# several oracles embed (QUALITY_SCORE_SQL, PIPELINE_CORPUS_BUILD_SQL,
# TOKEN_BUDGET_SQL) — interpolated so they cannot drift from
# operators.text.quality_score / text.STOPWORDS.
_QUALITY_BASE_COLS_SQL = f"""len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars,
               length(text) - length(translate(text, '.,!?;:', '')) AS punct,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ({_STOP_IN}))) AS stop_hits"""

_QUALITY_SCORE_EXPR_SQL = """(CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
                    THEN 1.0 ELSE 0.0 END) * 0.4
              + (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.4
              + (1.0 - CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.2"""

QUALITY_SCORE_SQL = f"""
    WITH base AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars,
               length(text) - length(translate(text, '.,!?;:', '')) AS punct,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ({_STOP_IN}))) AS stop_hits
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
                 THEN 1.0 ELSE 0.0 END) * 0.4
             + (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.4
             + (1.0 - CAST(punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.2
             AS quality_score
    FROM base
"""


def text_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs)


# -- similarity ---------------------------------------------------------------

def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.topk_bruteforce(emb, queries, k=5)


COSINE_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_sum([CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                         for i in range(1, len(q.q_vec) + 1)])
               / (sqrt(list_sum([CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)
                                 for i in range(1, len(q.q_vec) + 1)]))
                  * sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   for i in range(1, len(c.embedding) + 1)])))
               AS cos_sim
        FROM embeddings c, q
        WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
"""


def contrastive_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators.similarity.hard_negatives): per anchor (the standard
    vec_id < 10 query batch), the top-5 corpus vectors with cosine in
    [0.30, 0.45) — the band between "uninformative" and this corpus's
    near-duplicate threshold (embedding_neardup_pairs uses 0.45, so a
    mined negative can never be a known near-dup = false negative).
    Anchors mine 1..7 in-band negatives at sf0.001 (measured), so both
    the under-k and the full-k branches are exercised at every verify
    scale. Bit-reproducible: same pinned cosine fold as
    similarity_cosine_topk; the band filter happens map-side before
    the partial top-k, so the selection never shuffles out-of-band
    scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    return similarity.hard_negatives(
        emb, anchors, k=5, floor=0.30, ceiling=0.45
    )


HARD_NEGATIVES_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_sum([CAST(q.q_vec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                         for i in range(1, len(q.q_vec) + 1)])
               / (sqrt(list_sum([CAST(q.q_vec[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)
                                 for i in range(1, len(q.q_vec) + 1)]))
                  * sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   for i in range(1, len(c.embedding) + 1)])))
               AS cos_sim
        FROM embeddings c, q
        WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    WHERE cos_sim >= 0.30 AND cos_sim < 0.45
    QUALIFY rank <= 5
"""


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solar_logger_spark.operators.spread import spread_small

    # a one-split embeddings table reads as one partition, and every
    # block pair would then be scored in one Python task; spreading
    # wins at sf0.1 (0.37 -> 0.30 s, 4 cores) and loses ~40 ms at sf0.01
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    return similarity.neardup_pairs(emb, threshold=0.45)


NEARDUP_PAIRS_SQL = """
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                     for i in range(1, len(a.embedding) + 1)])
           / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                             for i in range(1, len(a.embedding) + 1)]))
              * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                               for i in range(1, len(b.embedding) + 1)])))
           AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                    for i in range(1, len(a.embedding) + 1)])
          / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                            for i in range(1, len(a.embedding) + 1)]))
             * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                              for i in range(1, len(b.embedding) + 1)])))
          >= 0.45
"""


# Exact top-k for the standard ANN self-check query batch, memoized
# per (Spark application, sf_dir, k). All four declared ANN queries
# check recall against the SAME brute-force answer over the SAME query
# batch (vec_id < 10), so recomputing the full corpus scan per query
# quadruples the self-check bill for identical bytes. The result is
# n_queries * k rows (50), so it is collected once and replayed as a
# broadcast-size local frame — bounded by construction.
_EXACT_TOPK_MEMO: dict = {}


def _table_fingerprint(sf_dir: str, table: str) -> tuple:
    """Cheap content fingerprint for a testdata table: (mtime_ns, size)
    of the parquet file, or of every part file when it is a directory.
    Keys the exact-top-k memo so an in-session rewrite of the table
    (e.g. a tool regenerating testdata) invalidates the cached
    brute-force answer instead of silently replaying stale neighbors
    into every ANN recall column (ADVICE r5)."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        parts = []
        for name in sorted(os.listdir(path)):
            ps = os.stat(os.path.join(path, name))
            parts.append((name, ps.st_mtime_ns, ps.st_size))
        return tuple(parts)
    except OSError:
        return ("missing",)


def _exact_topk_shared(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        k,
        _table_fingerprint(sf_dir, "embeddings"),
    )
    if key not in _EXACT_TOPK_MEMO:
        if len(_EXACT_TOPK_MEMO) > 16:  # stale sessions / sf dirs
            _EXACT_TOPK_MEMO.clear()
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = similarity.topk_bruteforce(emb, queries, k=k)
        _EXACT_TOPK_MEMO[key] = (exact.schema, exact.collect())
    schema, rows = _EXACT_TOPK_MEMO[key]
    return spark.createDataFrame(rows, schema)


def _attach_recall(ann: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Join a per-query ``recall_at_k`` vs the exact brute-force top-k
    into an ANN result. The ANN queries have no SQL oracle (bucketing /
    codebooks live in Spark-side seeded literals), so this deterministic
    self-check column gives the driver's rows-only record a quality
    signal beyond "it ran"; pytest pins the mean ≥ 0.8. The exact side
    is one extra corpus scan per run — bounded, and only on these
    self-checking declared queries, not on the operators themselves."""
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg((F.count(F.lit(1)) / F.lit(float(k))).alias("recall_at_k"))
    )
    return ann.join(F.broadcast(hits), "query_id", "left").na.fill(
        {"recall_at_k": 0.0}
    )


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table multiprobe sign-LSH — ORACLE-
    BACKED since r6: hyperplanes are md5-derived doubles both engines
    re-compute identically, and every dot product (bucket sign bits and
    the exact re-score) is a left-to-right fold, so the candidate set,
    cosines, ranks, and the ``recall_at_k`` self-check all hash-compare
    against the DuckDB twin. IVF/PQ stay rows-only (k-means training is
    legitimately engine-bound)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ann = similarity.topk_lsh(
        emb, queries, k=5, n_planes=8, n_tables=8, multiprobe=2
    )
    return _attach_recall(ann, _exact_topk_shared(spark, sf_dir), k=5)


# The SQL twin of the full LSH pipeline: md5-derived plane coefficients
# (h/2^60*2-1 — power-of-two steps are IEEE-exact, int→double rounding
# is identical across engines), sign-bit buckets per (vector, table),
# Hamming-radius-2 multiprobe via XOR masks, candidate join, exact
# cosine re-score, and the recall-vs-brute-force column. list_sum is
# DuckDB's left-to-right fold — the same association as the Spark
# side's F.aggregate HOF and the dimension-order numpy accumulation in
# similarity._table_buckets.
ANN_LSH_SQL = """
    WITH planes AS (
        SELECT t, p,
               [CAST(('0x' || substring(md5('plane|'
                       || CAST(7 + 7919 * t AS VARCHAR)
                       || '|' || CAST(p AS VARCHAR)
                       || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0 * 2.0 - 1.0
                FOR d IN range(0, 64)] AS w
        FROM range(0, 8) tt(t), range(0, 8) pp(p)
    ),
    vecs AS (
        SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
        FROM embeddings
    ),
    buckets AS (
        SELECT vecs.vec_id, pl.t,
               CAST(sum(CASE WHEN list_sum([vecs.v[i] * pl.w[i]
                                            FOR i IN range(1, 65)]) >= 0
                             THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM vecs, planes pl
        GROUP BY vecs.vec_id, pl.t
    ),
    masks AS (SELECT m FROM range(0, 256) rm(m)
              WHERE bit_count(CAST(m AS BIGINT)) <= 2),
    qprobe AS (
        SELECT DISTINCT b.vec_id AS query_id, b.t,
               xor(b.bucket, CAST(m.m AS BIGINT)) AS bucket
        FROM buckets b, masks m WHERE b.vec_id < 10
    ),
    cand AS (
        SELECT DISTINCT qp.query_id, cb.vec_id AS neighbor_id
        FROM qprobe qp
        JOIN buckets cb ON cb.t = qp.t AND cb.bucket = qp.bucket
        WHERE cb.vec_id <> qp.query_id
    ),
    norms AS (
        SELECT vec_id,
               sqrt(list_sum([v[i] * v[i] FOR i IN range(1, 65)])) AS nrm,
               v
        FROM vecs
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               list_sum([q.v[i] * n.v[i] FOR i IN range(1, 65)])
                 / (q.nrm * n.nrm) AS cos_sim
        FROM cand c
        JOIN norms q ON q.vec_id = c.query_id
        JOIN norms n ON n.vec_id = c.neighbor_id
    ),
    ann AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 5
    ),
    exact AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
        FROM norms q, norms n
        WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
        QUALIFY row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_sum([q.v[i] * n.v[i] FOR i IN range(1, 65)])
                           / (q.nrm * n.nrm) DESC,
                         n.vec_id ASC) <= 5
    ),
    recall AS (
        SELECT a.query_id, count(*) / 5.0 AS recall_at_k
        FROM ann a JOIN exact e
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY a.query_id
    )
    SELECT a.query_id, a.neighbor_id, a.cos_sim, a.rank,
           coalesce(r.recall_at_k, 0.0) AS recall_at_k
    FROM ann a LEFT JOIN recall r ON a.query_id = r.query_id
"""


# -- multimodal ---------------------------------------------------------------

def multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.blob_meta(docs)


BLOB_META_SQL = """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS blob_md5,  -- DuckDB md5 takes VARCHAR; same bytes
           substring(hex(encode(text)), 1, 16) AS head_hex
    FROM documents
"""


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing with the deterministic stub codec —
    NOW ORACLE-BACKED: the fake decode derives width/height/mode from
    the payload's md5 digest bytes, which SQL reproduces exactly
    (``64 + digest_byte % 192``, mode from digest[2] % 3), so the full
    Arrow batching + stub-digest path hash-compares cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = multimodal.attach_blob(docs)
    return multimodal.extract_features(blobs, fake=True)


MULTIMODAL_FEATURES_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS media_md5,
           CAST(64 + CAST(('0x' || substring(md5(text), 1, 2)) AS INT)
                     % 192 AS INT) AS width,
           CAST(64 + CAST(('0x' || substring(md5(text), 3, 2)) AS INT)
                     % 192 AS INT) AS height,
           ['RGB', 'RGBA', 'L'][
               CAST(('0x' || substring(md5(text), 5, 2)) AS INT) % 3 + 1
           ] AS mode
    FROM documents
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=3)


TFIDF_SQL = """
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE)
                                          / CAST(dfreq.df_t AS DOUBLE)) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term ASC) AS rank
        FROM scored
    )
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per series — Spark ``percentile``
    and DuckDB ``quantile_cont`` share the linear-interpolation
    definition, so the oracle matches to float equality."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


PERCENTILES_SQL = """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One→many frame sampling over blob columns — NOW ORACLE-BACKED:
    the stub's frame chunking is pure byte slicing
    (``payload[i·128 : (i+1)·128]`` for every 2nd frame), which SQL
    replays with substring arithmetic; frames are compared by md5 +
    byte length (the corpus text is ASCII, so char slicing == byte
    slicing — a non-ASCII corpus would fail the compare loudly, not
    silently)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(
        multimodal.attach_blob(docs), every_n=2, frame_bytes=128
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("long").alias("n_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


FRAME_SAMPLE_SQL = """
    WITH f AS (
        SELECT doc_id, text, octet_length(encode(text)) AS nb
        FROM documents
    ), idx AS (
        SELECT doc_id, text,
               unnest(range(0, greatest(nb // 128, 1), 2)) AS frame_idx
        FROM f
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(octet_length(encode(substring(text, frame_idx * 128 + 1,
                                              128))) AS BIGINT) AS n_bytes,
           md5(substring(text, frame_idx * 128 + 1, 128)) AS frame_md5
    FROM idx
"""


def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k — ORACLE-BACKED since r8 (was rows-only
    r4–r7): the codebook now comes from
    ``similarity.topk_ivf_deterministic`` — md5-seeded centroid init
    (the k lexicographically-smallest ``md5('cent|'||id)`` corpus
    vectors) plus ONE Lloyd sweep whose assignment cosines are
    left-to-right folds and whose cell means pin the addition order to
    member-id order — so DuckDB re-derives the identical codebook,
    cells, candidates, cosines, ranks, and recall column, and the
    driver's value-hash gate applies. It is the one IVF-only
    retriever; the numpy ``kmeans_refine`` trainer survives only as
    the coarse stage of ``pq.build_ivfpq``."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ann = similarity.topk_ivf_deterministic(
        emb, queries, k=5, n_cells=16, n_probe=8, lloyd_rounds=1
    ).localCheckpoint()  # _attach_recall consumes ann twice; don't
    # re-run the whole deterministic pipeline for the hits join
    return _attach_recall(ann, _exact_topk_shared(spark, sf_dir), k=5)


# The SQL twin of the deterministic-IVF pipeline: md5-ordered centroid
# init, one Lloyd sweep (fold-order cosines; per-cell means as
# list_reduce folds over member-id-ordered lists), final assignment,
# n_probe probing, exact cosine re-score, and the recall-vs-brute-force
# column — every float bit-identical to the Spark side.
ANN_IVF_SQL = """
    WITH vecs AS (
        SELECT vec_id AS vid, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
        FROM embeddings
    ),
    init AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5('cent|' || CAST(vid AS VARCHAR))) - 1
               AS INT) AS cell, v AS c
        FROM vecs ORDER BY md5('cent|' || CAST(vid AS VARCHAR)) LIMIT 16
    ),
    asg0 AS (
        SELECT vid, v, cell FROM (
            SELECT vecs.vid, vecs.v, i.cell,
                   row_number() OVER (PARTITION BY vecs.vid ORDER BY
                       list_sum([vecs.v[d] * i.c[d] FOR d IN range(1, 65)])
                         / (sqrt(list_sum([vecs.v[d] * vecs.v[d]
                                           FOR d IN range(1, 65)]))
                            * sqrt(list_sum([i.c[d] * i.c[d]
                                             FOR d IN range(1, 65)]))) DESC,
                       i.cell ASC) AS rn
            FROM vecs, init i) t
        WHERE rn = 1
    ),
    cblk AS (  -- hierarchical mean: fold within a 256-id block...
        SELECT cell, vid // 256 AS b, list(v ORDER BY vid) AS ms,
               count(*) AS cnt
        FROM asg0 GROUP BY 1, 2
    ),
    cbsum AS (
        SELECT cell, b, cnt,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 64)], ms),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 65)]) AS s
        FROM cblk
    ),
    csb AS (  -- ...block partials in block order within a superblock...
        SELECT cell, b // 256 AS sb,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 64)],
                                        list(s ORDER BY b)),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 65)]) AS s2,
               sum(cnt) AS scnt
        FROM cbsum GROUP BY cell, b // 256
    ),
    cent1 AS (  -- ...then superblock partials in superblock order
        SELECT cell, [t[d] / n FOR d IN range(1, 65)] AS c
        FROM (
            SELECT cell,
                   list_reduce(list_prepend([0.0 FOR d IN range(0, 64)],
                                            list(s2 ORDER BY sb)),
                               (acc, x) -> [acc[d] + x[d]
                                            FOR d IN range(1, 65)]) AS t,
                   CAST(sum(scnt) AS BIGINT) AS n
            FROM csb GROUP BY cell) g
    ),
    cents AS (  -- empty cells keep their init centroid
        SELECT i.cell, coalesce(c1.c, i.c) AS c
        FROM init i LEFT JOIN cent1 c1 ON i.cell = c1.cell
    ),
    asg AS (
        SELECT vid, v, cell FROM (
            SELECT vecs.vid, vecs.v, cs.cell,
                   row_number() OVER (PARTITION BY vecs.vid ORDER BY
                       list_sum([vecs.v[d] * cs.c[d] FOR d IN range(1, 65)])
                         / (sqrt(list_sum([vecs.v[d] * vecs.v[d]
                                           FOR d IN range(1, 65)]))
                            * sqrt(list_sum([cs.c[d] * cs.c[d]
                                             FOR d IN range(1, 65)]))) DESC,
                       cs.cell ASC) AS rn
            FROM vecs, cents cs) t
        WHERE rn = 1
    ),
    probes AS (
        SELECT vid AS query_id, v AS qv, cell FROM (
            SELECT vecs.vid, vecs.v, cs.cell,
                   row_number() OVER (PARTITION BY vecs.vid ORDER BY
                       list_sum([vecs.v[d] * cs.c[d] FOR d IN range(1, 65)])
                         / (sqrt(list_sum([vecs.v[d] * vecs.v[d]
                                           FOR d IN range(1, 65)]))
                            * sqrt(list_sum([cs.c[d] * cs.c[d]
                                             FOR d IN range(1, 65)]))) DESC,
                       cs.cell ASC) AS rn
            FROM vecs, cents cs WHERE vecs.vid < 10) t
        WHERE rn <= 8
    ),
    scored AS (
        SELECT p.query_id, a.vid AS neighbor_id,
               list_sum([p.qv[d] * a.v[d] FOR d IN range(1, 65)])
                 / (sqrt(list_sum([p.qv[d] * p.qv[d]
                                   FOR d IN range(1, 65)]))
                    * sqrt(list_sum([a.v[d] * a.v[d]
                                     FOR d IN range(1, 65)]))) AS cos_sim
        FROM probes p JOIN asg a ON a.cell = p.cell
        WHERE a.vid <> p.query_id
    ),
    ann AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 5
    ),
    norms AS (
        SELECT vid, v,
               sqrt(list_sum([v[d] * v[d] FOR d IN range(1, 65)])) AS nrm
        FROM vecs
    ),
    exact AS (
        SELECT q.vid AS query_id, n.vid AS neighbor_id
        FROM norms q, norms n
        WHERE q.vid < 10 AND n.vid <> q.vid
        QUALIFY row_number() OVER (PARTITION BY q.vid
                ORDER BY list_sum([q.v[d] * n.v[d] FOR d IN range(1, 65)])
                           / (q.nrm * n.nrm) DESC,
                         n.vid ASC) <= 5
    ),
    recall AS (
        SELECT a.query_id, count(*) / 5.0 AS recall_at_k
        FROM ann a JOIN exact e
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY a.query_id
    )
    SELECT a.query_id, a.neighbor_id, a.cos_sim, a.rank,
           coalesce(r.recall_at_k, 0.0) AS recall_at_k
    FROM ann a LEFT JOIN recall r ON a.query_id = r.query_id
"""


# ---------------------------------------------------------------------------
# time-series transforms over the events series (operators/timeseries.py)
# ---------------------------------------------------------------------------

def ts_difference_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.difference(events, ["event_type"], tiebreak=["event_id"])
    return out.select("event_id", "event_type", "ts", "value", "diff")


TS_DIFFERENCE_SQL = """
    SELECT event_id, event_type, ts, value,
           value - lag(value) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id) AS diff
    FROM events
"""


def ts_derivative_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.derivative(events, ["event_type"], tiebreak=["event_id"])
    return out.select("event_id", "event_type", "ts", "value", "rate")


TS_DERIVATIVE_SQL = """
    SELECT event_id, event_type, ts, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY event_type ORDER BY ts, event_id) > 0
                THEN (value - lag(value)
                      OVER (PARTITION BY event_type ORDER BY ts, event_id))
                     / (CAST(epoch_us(ts) - lag(epoch_us(ts))
                             OVER (PARTITION BY event_type ORDER BY ts, event_id)
                        AS DOUBLE) / 1000000.0)
           END AS rate
    FROM events
"""


def ts_derivative_nonneg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``derivative(nonNegative: true)``: counter-reset-tolerant
    rate — negative rates become null (same plan as ``derivative``,
    one extra null-guard expression in the projection)."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.derivative(
        events, ["event_type"], tiebreak=["event_id"], non_negative=True
    )
    return out.select("event_id", "event_type", "ts", "value", "rate")


TS_DERIVATIVE_NONNEG_SQL = """
    WITH rated AS (
        SELECT event_id, event_type, ts, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY event_type ORDER BY ts, event_id) > 0
                    THEN (value - lag(value)
                          OVER (PARTITION BY event_type ORDER BY ts, event_id))
                         / (CAST(epoch_us(ts) - lag(epoch_us(ts))
                                 OVER (PARTITION BY event_type ORDER BY ts, event_id)
                            AS DOUBLE) / 1000000.0)
               END AS rate
        FROM events
    )
    SELECT event_id, event_type, ts, value,
           CASE WHEN rate >= 0 THEN rate END AS rate
    FROM rated
"""


def ts_cumulative_sum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solar_logger_spark.operators import timeseries as T

    # running sum in exact decimal: float accumulation differs from the
    # oracle's window-sum algorithm in the last ulp, which reorders the
    # hash-compare's row sort; decimal is order-independent and exact
    # (events.value carries <= 6 decimals)
    events = load_table(spark, sf_dir, "events").withColumn(
        "_v", F.col("value").cast("decimal(25,6)")
    )
    out = T.cumulative_sum(
        events, ["event_type"], value_col="_v", tiebreak=["event_id"]
    )
    return out.select(
        "event_id", "event_type", "ts",
        F.col("cum_sum").cast("double").alias("cum_sum"),
    )


TS_CUMSUM_SQL = """
    SELECT event_id, event_type, ts,
           CAST(sum(CAST(value AS DECIMAL(25,6)))
                OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS cum_sum
    FROM events
"""


def ts_forward_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nulls injected deterministically (event_id % 5 == 0), then
    forward-filled per series — same construction in the oracle."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events").withColumn(
        "gappy",
        F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value")),
    )
    out = T.forward_fill(
        events, ["event_type"], value_col="gappy", tiebreak=["event_id"]
    )
    return out.select("event_id", "event_type", "ts", "gappy", "filled")


TS_FILL_SQL = """
    WITH gapped AS (
        SELECT event_id, event_type, ts,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS gappy
        FROM events
    )
    SELECT event_id, event_type, ts, gappy,
           last_value(gappy IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM gapped
"""


def ts_increase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.increase(events, ["event_type"], tiebreak=["event_id"])
    return out.select("event_id", "event_type", "ts", "increase")


TS_INCREASE_SQL = """
    WITH diffed AS (
        SELECT event_id, event_type, ts,
               value - lag(value) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS d
        FROM events
    )
    SELECT event_id, event_type, ts,
           sum(CASE WHEN d > 0 THEN d ELSE 0.0 END)
               OVER (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS increase
    FROM diffed
"""


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.bpe_ish_token_count("text").cast("long").alias("bpe_tokens"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
    )


BPE_TOKEN_SQL = """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens,
           len(string_split(text, ' ')) AS ws_tokens
    FROM documents
"""


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``histogram()`` analog: fixed-width value buckets per series
    — floor arithmetic both sides, one hash aggregate."""
    events = load_table(spark, sf_dir, "events")
    width = 10.0
    bucket = (F.floor(F.col("value") / width) * width).alias("bucket_low")
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", bucket)
        .agg(F.count(F.lit(1)).alias("n"))
    )


VALUE_HISTOGRAM_SQL = """
    SELECT event_type, floor(value / 10.0) * 10.0 AS bucket_low,
           count(*) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, floor(value / 10.0) * 10.0
"""


def dedup_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup decision: near-dup pairs (exact n-gram Jaccard ≥ 0.5)
    → connected components (alternating star rounds) → keep the minimum
    doc per component. Every document gets (component, keep)."""
    from solar_logger_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return graph.dedup_representatives(pairs, docs)


CLUSTER_SQL = """
    WITH RECURSIVE
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
        SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in range(1, greatest(len(ws) - 1, 1))]) AS s
        FROM words
    ),
    sd AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id),
    ic AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ninter
        FROM sd a JOIN sd b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a_id, b_id FROM ic
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE CAST(ninter AS DOUBLE) / CAST(sa.n + sb.n - ninter AS DOUBLE)
              >= 0.5
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
    )
    SELECT node AS doc_id, min(label) AS component,
           min(label) = node AS keep
    FROM reach GROUP BY node
"""


def sample_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of events by event_id hash — identical
    membership in any engine at any partitioning."""
    from solar_logger_spark.operators import sampling

    events = load_table(spark, sf_dir, "events")
    return sampling.sample_fraction(
        events, 0.10, key_cols=["event_id"], seed=42
    ).select("event_id", "event_type", "value")


SAMPLE_FRACTION_SQL = """
    SELECT event_id, event_type, value FROM events
    WHERE CAST(('0x' || substring(
              md5(CAST(event_id AS VARCHAR) || chr(31) || '42'), 1, 15))
          AS BIGINT) % 1000000 < 100000
"""


def sample_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment by user_id hash —
    leakage-free (a user never straddles splits); output is the count
    per (split, event_type)."""
    from solar_logger_spark.operators import sampling

    events = load_table(spark, sf_dir, "events")
    assigned = sampling.split_assign(
        events, {"train": 0.8, "valid": 0.1, "test": 0.1},
        key_cols=["user_id"], seed=7,
    )
    return (
        assigned.groupBy("split", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "event_type")
    )


SPLIT_COUNTS_SQL = """
    WITH b AS (
        SELECT event_type,
               CAST(('0x' || substring(
                   md5(CAST(user_id AS VARCHAR) || chr(31) || '7'), 1, 15))
               AS BIGINT) % 1000000 AS bucket
        FROM events
    )
    SELECT CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'valid'
                ELSE 'test' END AS split,
           event_type, count(*) AS n
    FROM b GROUP BY 1, 2 ORDER BY split, event_type
"""


def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 documents per language, selected by smallest doc-id
    hash (deterministic per-stratum quota sampling)."""
    from solar_logger_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_topn(
        docs, stratum_cols=["lang"], n=5, key_cols=["doc_id"], seed=1
    ).select("lang", "doc_id")


SAMPLE_STRATIFIED_SQL = """
    SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR) || chr(31) || '1'), 1, 15))
                     AS BIGINT) % 1000000 ASC, doc_id ASC) AS rn
        FROM documents
    ) WHERE rn <= 5
"""


def text_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-token chunks with 32-token overlap over every document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, chunk_tokens=128, overlap=32)


CHUNK_SQL = """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    starts AS (
        SELECT doc_id, ws,
               unnest(range(0, greatest(len(ws) - 1, 0) + 1, 96)) AS s
        FROM words
    )
    SELECT doc_id,
           CAST(s / 96 AS INTEGER) AS chunk_index,
           CAST(len(list_slice(ws, s + 1, s + 128)) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(ws, s + 1, s + 128), ' ') AS chunk_text
    FROM starts
"""


def ts_elapsed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux elapsed(): per-user seconds between consecutive events,
    time-shifted forward 1h (timeShift composition)."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.elapsed(
        events, series=["user_id"], ts_col="ts", tiebreak=["event_id"]
    )
    return T.time_shift(out, "1h").select("event_id", "ts", "user_id", "elapsed")


ELAPSED_SQL = """
    SELECT event_id, ts + INTERVAL '3600' SECOND AS ts, user_id,
           epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS elapsed
    FROM events
"""


def ts_moving_average_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux movingAverage(n: 5) per user over event values."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    return T.moving_average(
        events, n=5, series=["user_id"], tiebreak=["event_id"]
    ).select("event_id", "user_id", "mavg")


MOVING_AVERAGE_SQL = """
    SELECT event_id, user_id,
           avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mavg
    FROM events
"""


def ts_ema_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux exponentialMovingAverage(n: 9) per user (α = 0.2). r12:
    runs as a segmented affine prefix scan (operators/affine_scan.py
    — within-series parallel, JVM-side); the oracle replays the
    pinned hierarchical fold order (queries/affine_scan_sql.py),
    bitwise-verified at sf0.001 and sf0.01."""
    from solar_logger_spark.operators import timeseries as T

    # scan input pruned to what the scan + final select need:
    # mapInPandas is opaque to Catalyst, so an unpruned frame
    # ships every column (incl. the fat props JSON) through the
    # rank exchange, Arrow, and the block checkpoint (guide 4.1)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return T.exponential_moving_average(
        events, n=9, series=["user_id"], tiebreak=["event_id"]
    ).select("event_id", "user_id", "ema")


EMA_SQL = _scan_sql.scan_query_sql(
    tag="ema_",
    base="SELECT user_id, ts, event_id, value FROM events",
    series=["user_id"],
    order="ts, event_id",
    d=1,
    maps={
        "a11": "CASE WHEN rn = 1 THEN 0.0 ELSE 0.8 END",
        "c1": "CASE WHEN rn = 1 THEN value ELSE 0.2 * value END",
    },
    select="x.event_id, x.user_id, y.v1 AS ema",
)


def ts_state_count_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``stateCount``: length-so-far of the current value>50 run
    per event_type series, -1 off-state (gaps-and-islands, one
    exchange)."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.state_count(
        events, F.col("value") > 50.0, ["event_type"], tiebreak=["event_id"]
    )
    return out.select("event_id", "event_type", "ts", "value", "state_count")


STATE_COUNT_SQL = """
    WITH flagged AS (
        SELECT event_id, event_type, ts, value, (value > 50.0) AS flag,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), marked AS (
        SELECT *, max(CASE WHEN NOT flag THEN rn END)
                  OVER (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS last_off
        FROM flagged
    )
    SELECT event_id, event_type, ts, value,
           CAST(CASE WHEN flag THEN rn - coalesce(last_off, 0)
                     ELSE -1 END AS BIGINT) AS state_count
    FROM marked
"""


def ts_state_duration_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``stateDuration``: seconds since the current value>50 run
    began per event_type series (0 at run start, -1 off-state)."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.state_duration(
        events, F.col("value") > 50.0, ["event_type"], tiebreak=["event_id"]
    )
    return out.select(
        "event_id", "event_type", "ts", "value", "state_duration"
    )


STATE_DURATION_SQL = """
    WITH flagged AS (
        SELECT event_id, event_type, ts, value, (value > 50.0) AS flag,
               lag(value > 50.0) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS prev_flag
        FROM events
    ), marked AS (
        SELECT *, max(CASE WHEN flag AND NOT coalesce(prev_flag, FALSE)
                           THEN CAST(epoch_us(ts) AS DOUBLE) / 1000000.0
                      END)
                  OVER (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_t0
        FROM flagged
    )
    SELECT event_id, event_type, ts, value,
           CASE WHEN flag
                THEN CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 - run_t0
                ELSE -1.0 END AS state_duration
    FROM marked
"""


def ts_state_changes_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``stateChanges`` (r11): only the rows where the value>50
    predicate FLIPS per event_type series, each carrying its new state
    (operators.timeseries.state_changes). One lag per series — single
    exchange; the first row of a series is not a transition."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.state_changes(
        events, F.col("value") > 50.0, ["event_type"], tiebreak=["event_id"]
    )
    return out.select("event_id", "event_type", "value", "state")


STATE_CHANGES_SQL = """
    WITH flagged AS (
        SELECT event_id, event_type, value, (value > 50.0) AS flag,
               lag(value > 50.0) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS prev_flag
        FROM events
    )
    SELECT event_id, event_type, value, flag AS state
    FROM flagged
    WHERE prev_flag IS NOT NULL AND flag <> prev_flag
"""


def ts_event_duration_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux contrib ``events.duration`` (r11): per row, seconds until
    the NEXT row of its event_type series; the last row of a series is
    null (operators.timeseries.event_duration). The gap is an exact µs
    integer — the single mirrored division is the only float op."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.event_duration(events, ["event_type"], tiebreak=["event_id"])
    return out.select("event_id", "event_type", "duration")


EVENT_DURATION_SQL = """
    SELECT event_id, event_type,
           CAST(lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id)
                - epoch_us(ts) AS DOUBLE) / 1000000.0 AS duration
    FROM events
"""


def sketch_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL sketches of user_id, merged to a per-event-type
    distinct estimate — the store-sketches-not-rows pattern.

    NOW ORACLE-BACKED via the accuracy contract: the raw HLL estimate
    is engine-specific (Spark HLL++ is not reproducible in DuckDB), so
    the declared output is ``exact_distinct`` plus ``within_5pct`` —
    whether the merged-sketch estimate lands inside its pinned 5%
    envelope. The sketch pipeline still runs inside the query (the
    boolean derives from its estimate), so a broken sketch or merge
    flips the boolean and fails the hash compare; the estimate itself
    stays pinned in tests/test_sketches.py."""
    from solar_logger_spark.operators import sketches

    events = load_table(spark, sf_dir, "events")
    daily = sketches.distinct_sketches(
        events.withColumn("day", F.to_date("ts")),
        group_cols=["event_type", "day"],
        value_col="user_id",
    )
    approx = sketches.union_estimate(daily, group_cols=["event_type"])
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return approx.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct").cast("double")
            < 0.05
        ).alias("within_5pct"),
    )


SKETCH_DISTINCT_SQL = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
"""


def text_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed 3-term query (log-free idf
    variant — bit-reproducible ranking, see operators/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(docs, ["join", "vector", "spark"], k=20)


BM25_SQL = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
           FROM documents),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS avgdl
              FROM documents),
    qt AS (SELECT * FROM toks WHERE term IN ('join', 'vector', 'spark')),
    dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
              FROM qt GROUP BY term),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM qt GROUP BY doc_id, term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
        FROM tf
        JOIN dfreq ON tf.term = dfreq.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
    )
    SELECT doc_id,
           sum(CASE WHEN term = 'join' THEN s ELSE 0.0 END)
           + sum(CASE WHEN term = 'vector' THEN s ELSE 0.0 END)
           + sum(CASE WHEN term = 'spark' THEN s ELSE 0.0 END) AS score
    FROM scored
    GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
"""


def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval: ADC shortlist over 8-byte codes + exact
    re-rank of candidates — ORACLE-BACKED since r8 (was rows-only
    r4–r7): ``pq.topk_pq_deterministic`` trains per-subspace codebooks
    from md5-seeded init + one pinned-fold Lloyd sweep and scores with
    dimension-/subspace-order folds, so the DuckDB twin re-derives the
    identical codes, ADC tables, shortlists, and exact re-ranked
    distances. It is the one flat-PQ retriever; recall vs brute force
    is pinned in tests/test_ann_recall.py."""
    from solar_logger_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ann = pq.topk_pq_deterministic(
        emb, queries, k=5, m=8, ks=16, rerank=400, lloyd_rounds=1
    ).localCheckpoint()  # consumed twice by _attach_recall
    return _attach_recall(ann, _exact_topk_shared(spark, sf_dir), k=5)


# The SQL twin of the deterministic-PQ pipeline: unit-normalization,
# md5-ordered per-subspace codebook init, one pinned-fold Lloyd sweep,
# encode, ADC (per-subspace distance tables summed in subspace order),
# rerank-deep shortlist, exact unit-sphere squared-L2 re-rank, and the
# recall-vs-brute-force column — every float bit-identical to Spark.
ANN_PQ_SQL = """
    WITH raw AS (
        SELECT vec_id AS vid, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
        FROM embeddings
    ),
    vn AS (
        SELECT vid, [x / nrm FOR x IN v] AS v
        FROM (SELECT vid, v,
                     sqrt(list_sum([y * y FOR y IN v])) AS nrm FROM raw)
    ),
    subs AS (
        SELECT vid, ms, [v[ms * 8 + d] FOR d IN range(1, 9)] AS sub
        FROM vn, range(0, 8) mm(ms)
    ),
    init AS (
        SELECT ms, code, sub AS c FROM (
            SELECT ms, vid, sub,
                   CAST(row_number() OVER (PARTITION BY ms ORDER BY
                       md5('pq|' || CAST(ms AS VARCHAR) || '|'
                           || CAST(vid AS VARCHAR))) - 1 AS INT) AS code
            FROM subs) t
        WHERE code < 16
    ),
    asg0 AS (
        SELECT vid, ms, code, sub FROM (
            SELECT s.vid, s.ms, i.code, s.sub,
                   row_number() OVER (PARTITION BY s.vid, s.ms ORDER BY
                       list_sum([(s.sub[d] - i.c[d]) * (s.sub[d] - i.c[d])
                                 FOR d IN range(1, 9)]) ASC,
                       i.code ASC) AS rn
            FROM subs s JOIN init i ON i.ms = s.ms) t
        WHERE rn = 1
    ),
    mblk AS (  -- hierarchical mean: fold within a 256-id block...
        SELECT ms, code, vid // 256 AS b, list(sub ORDER BY vid) AS mem,
               count(*) AS cnt
        FROM asg0 GROUP BY 1, 2, 3
    ),
    mbsum AS (
        SELECT ms, code, b, cnt,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 8)], mem),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 9)]) AS s
        FROM mblk
    ),
    msb AS (  -- ...block partials in block order within a superblock...
        SELECT ms, code, b // 256 AS sb,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 8)],
                                        list(s ORDER BY b)),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 9)]) AS s2,
               sum(cnt) AS scnt
        FROM mbsum GROUP BY ms, code, b // 256
    ),
    mean1 AS (  -- ...then superblock partials in superblock order
        SELECT ms, code, [t[d] / n FOR d IN range(1, 9)] AS c
        FROM (
            SELECT ms, code,
                   list_reduce(list_prepend([0.0 FOR d IN range(0, 8)],
                                            list(s2 ORDER BY sb)),
                               (acc, x) -> [acc[d] + x[d]
                                            FOR d IN range(1, 9)]) AS t,
                   CAST(sum(scnt) AS BIGINT) AS n
            FROM msb GROUP BY ms, code) g
    ),
    books AS (
        SELECT i.ms, i.code, coalesce(m1.c, i.c) AS c
        FROM init i LEFT JOIN mean1 m1
          ON i.ms = m1.ms AND i.code = m1.code
    ),
    codes AS (
        SELECT vid, ms, code FROM (
            SELECT s.vid, s.ms, b.code,
                   row_number() OVER (PARTITION BY s.vid, s.ms ORDER BY
                       list_sum([(s.sub[d] - b.c[d]) * (s.sub[d] - b.c[d])
                                 FOR d IN range(1, 9)]) ASC,
                       b.code ASC) AS rn
            FROM subs s JOIN books b ON b.ms = s.ms) t
        WHERE rn = 1
    ),
    qn AS (SELECT vid AS query_id, v AS qv FROM vn WHERE vid < 10),
    qsubs AS (
        SELECT query_id, ms, [qv[ms * 8 + d] FOR d IN range(1, 9)] AS qsub
        FROM qn, range(0, 8) mm(ms)
    ),
    dtab AS (
        SELECT q.query_id, q.ms, b.code,
               list_sum([(q.qsub[d] - b.c[d]) * (q.qsub[d] - b.c[d])
                         FOR d IN range(1, 9)]) AS d2
        FROM qsubs q JOIN books b ON b.ms = q.ms
    ),
    adc AS (
        SELECT d.query_id, c.vid AS neighbor_id,
               list_reduce(list_prepend(0.0, list(d.d2 ORDER BY d.ms)),
                           (a, b) -> a + b) AS adc
        FROM codes c JOIN dtab d ON d.ms = c.ms AND d.code = c.code
        WHERE c.vid <> d.query_id
        GROUP BY d.query_id, c.vid
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM adc
        QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY adc ASC, neighbor_id ASC) <= 400
    ),
    ann AS (
        SELECT query_id, neighbor_id, approx_dist,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY approx_dist ASC, neighbor_id ASC)
               AS INT) AS rank
        FROM (
            SELECT s.query_id, s.neighbor_id,
                   list_sum([(q.qv[d] - v.v[d]) * (q.qv[d] - v.v[d])
                             FOR d IN range(1, 65)]) AS approx_dist
            FROM shortlist s
            JOIN vn v ON v.vid = s.neighbor_id
            JOIN qn q ON q.query_id = s.query_id) r
        QUALIFY rank <= 5
    ),
    norms AS (
        SELECT vid, v,
               sqrt(list_sum([v[d] * v[d] FOR d IN range(1, 65)])) AS nrm
        FROM raw
    ),
    exact AS (
        SELECT q.vid AS query_id, n.vid AS neighbor_id
        FROM norms q, norms n
        WHERE q.vid < 10 AND n.vid <> q.vid
        QUALIFY row_number() OVER (PARTITION BY q.vid
                ORDER BY list_sum([q.v[d] * n.v[d] FOR d IN range(1, 65)])
                           / (q.nrm * n.nrm) DESC,
                         n.vid ASC) <= 5
    ),
    recall AS (
        SELECT a.query_id, count(*) / 5.0 AS recall_at_k
        FROM ann a JOIN exact e
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY a.query_id
    )
    SELECT a.query_id, a.neighbor_id, a.approx_dist, a.rank,
           coalesce(r.recall_at_k, 0.0) AS recall_at_k
    FROM ann a LEFT JOIN recall r ON a.query_id = r.query_id
"""


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via mergeable count-min sketch: per-day CMS tables
    over event_type, bucket-summed to a global sketch, point-estimated
    per key, thresholded. With 5 keys against width 8192 the estimate
    is collision-free, so the DuckDB exact-count oracle matches
    exactly; the never-undercount bound at real cardinality is pinned
    in tests/test_sketches.py."""
    from solar_logger_spark.operators import sketches

    events = load_table(spark, sf_dir, "events")
    daily = sketches.cms_table(
        events.withColumn("day", F.to_date("ts")),
        "event_type",
        group_cols=["day"],
    )
    merged = sketches.cms_merge(daily)
    keys = events.select("event_type").distinct()
    est = sketches.cms_estimate(merged, keys, "event_type")
    return est.filter(F.col("est_count") >= 50).select(
        "event_type", "est_count"
    )


HEAVY_HITTERS_SQL = """
    SELECT event_type, count(*) AS est_count
    FROM events GROUP BY event_type HAVING count(*) >= 50
"""


def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ (IVFADC): residual-encoded codes partitioned by
    coarse cell, per-(query, cell) ADC tables, exact shortlist re-rank
    — ORACLE-BACKED since r8 (was rows-only r4–r7):
    ``pq.topk_ivfpq_deterministic`` composes the md5-seeded coarse
    codebook and the md5-seeded residual PQ codebooks, both with
    pinned-fold Lloyd sweeps and dimension-/subspace-order distance
    folds, so the DuckDB twin re-derives the identical cells,
    residuals, codes, ADC sums, and re-ranked distances.
    ``pq.build_ivfpq``/``topk_ivfpq`` (numpy) stay as the faster
    trainer of the maintained index's ``array`` layout; recall is
    pinned in tests/test_pq.py and tests/test_ann_recall.py."""
    from solar_logger_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    ann = pq.topk_ivfpq_deterministic(
        emb, queries, k=5, n_cells=16, n_probe=10, m=8, ks=16,
        rerank=400, lloyd_rounds=1, coarse_rounds=0,
    ).localCheckpoint()  # consumed twice by _attach_recall
    return _attach_recall(ann, _exact_topk_shared(spark, sf_dir), k=5)


def _maintained_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """The per-session path of the maintained ANN index for ``sf_dir``.
    Per-session: a concurrent session (pytest plan audit vs a verify
    run) must never rmtree an index the other is mid-build on; within
    one session, queries run sequentially and rebuild cleanly."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        "slspark_ann_maintained_"
        + os.path.basename(os.path.abspath(sf_dir))
        + "_" + spark.sparkContext.applicationId,
    )


def _maintained_index_build(spark: SparkSession, sf_dir: str) -> str:
    """The maintained-index maintenance loop (``streaming.ann_ingest``):
    vectors with ``vec_id % 4 != 3`` bootstrap the index (deterministic
    md5-seeded model, pinned as a JSON sidecar of the codes snapshot),
    the remaining quarter arrives as a delivery that encodes MAP-ONLY
    against the pinned model and appends an O(batch) codes delta, and
    compaction folds the delta tail into the next base snapshot.
    Returns the index dir, fully built from scratch.

    ``lloyd_rounds=0``: this pipeline pins the PERSISTENCE/delta loop;
    the pinned-fold Lloyd trainer itself is already hash-verified by
    ``similarity_ann_ivfpq`` — re-running a training sweep here would
    re-pay its cost per bench run for no additional oracle signal."""
    import shutil

    from solar_logger_spark.streaming import ann_ingest as AI

    emb = load_table(spark, sf_dir, "embeddings")
    initial = emb.filter(F.col("vec_id") % 4 != 3)
    delivery = emb.filter(F.col("vec_id") % 4 == 3)
    idx = _maintained_index_dir(spark, sf_dir)
    shutil.rmtree(idx, ignore_errors=True)
    AI.bootstrap_ann_index_deterministic(
        initial, idx, n_cells=16, m=8, ks=16, lloyd_rounds=0
    )
    AI.ann_ingest_sink(idx)(delivery, 1)
    AI.compact_ann_index(spark, idx)
    return idx


def ann_maintained_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD half of the maintained-index loop (r10 split of
    ``similarity_ann_maintained``, so the bench separates the one-time
    maintenance cost from the steady-state search cost a deployment
    pays per query): bootstrap → O(batch) delivery → compaction, all
    through real parquet persistence, then a per-cell summary of the
    RESOLVED persisted codes. Every value is re-derivable: the DuckDB
    twin replays bootstrap training (initial corpus only) and the
    union encode (≡ encoding everything against the initial-trained
    model, since encode is per-row), then the same aggregate; the
    JSON-sidecar model round-trip is bit-exact (repr floats).
    ``vid_code_sum`` discriminates per-vector assignments, not just
    totals."""
    from solar_logger_spark.streaming import ann_ingest as AI

    idx = _maintained_index_build(spark, sf_dir)
    codes = AI.resolved_codes(spark, idx)
    return (
        codes.groupBy("cell")
        .agg(
            F.countDistinct("vid").cast("bigint").alias("n_vecs"),
            F.count("*").cast("bigint").alias("n_code_rows"),
            F.sum("code").cast("bigint").alias("code_sum"),
            F.sum(F.col("vid") * F.col("code")).cast("bigint")
            .alias("vid_code_sum"),
        )
    )


def ann_maintained_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEARCH half of the maintained-index loop: resolve + probe
    over the EXISTING persisted index — the steady-state cost a 100 TB
    deployment actually pays per query. The index handle is reused
    across calls in a session (``_exact_topk_shared``'s memo pattern:
    rebuilt only if missing, e.g. when this query runs without
    ``ann_maintained_build`` before it); search resolves base ∪ delta
    before probing, so the result is identical whether or not the tail
    was compacted. The DuckDB twin is the full replay (train + encode
    + pinned-fold ADC search) — SQL has no persistence to skip."""
    import os

    from solar_logger_spark.streaming import ann_ingest as AI

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _maintained_index_dir(spark, sf_dir)
    if not os.path.exists(os.path.join(idx, "_CURRENT")):
        _maintained_index_build(spark, sf_dir)
    ann = AI.search_ann_index(
        spark, idx, emb.filter(F.col("vec_id") < 10), corpus=emb,
        k=5, n_probe=12, rerank=800,
    ).localCheckpoint()  # consumed twice by _attach_recall
    return _attach_recall(ann, _exact_topk_shared(spark, sf_dir), k=5)


def dedup_ngram_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring dedup signal: per-document share of
    5-token grams that occur more than once corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_ngram_spans(docs, n=5, keep_threshold=0.5)


NGRAM_SPAN_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4] AS gram
        FROM toks, LATERAL unnest(generate_series(1, len(ws) - 4)) AS t(i)
        WHERE len(ws) >= 5
    ), counts AS (
        SELECT gram, count(*) AS c FROM grams GROUP BY gram
    ), per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
               CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS n_dup
        FROM grams JOIN counts USING (gram) GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_ngrams, 0) AS n_ngrams,
           coalesce(p.n_dup, 0) AS n_dup,
           CASE WHEN coalesce(p.n_ngrams, 0) > 0
                THEN CAST(p.n_dup AS DOUBLE) / CAST(p.n_ngrams AS DOUBLE)
           END AS dup_frac,
           coalesce(CAST(p.n_dup AS DOUBLE) / CAST(p.n_ngrams AS DOUBLE)
                    < 0.5, TRUE) AS keep
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def text_unigram_rarity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality filter (log-free): corpus token frequencies
    broadcast back onto each document's token stream."""
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_rarity(docs, rare_below=5)


UNIGRAM_RARITY_SQL = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS avg_token_count,
           CAST(count(*) FILTER (WHERE c < 5) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS rare_frac
    FROM toks JOIN vocab USING (tok)
    GROUP BY doc_id
"""


def text_repetition_signals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solar_logger_spark.operators import text as TXT

    docs = load_table(spark, sf_dir, "documents")
    return TXT.repetition_signals(docs, top_n=2, dup_n=5)


REPETITION_SIGNALS_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t, length(text) AS chars
        FROM documents
    ), base AS (
        SELECT doc_id, chars, len(t) AS ntok, len(list_distinct(t)) AS nuniq
        FROM toks
    ), g2 AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS g
        FROM toks
    ), c2 AS (
        SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
    ), top AS (
        SELECT doc_id, c AS top_c, g AS top_g FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
            FROM c2
        ) WHERE rn = 1
    ), g5 AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                       t[i+3] || ' ' || t[i+4]
                       FOR i IN range(1, len(t) - 3)]) AS g
        FROM toks
    ), c5 AS (
        SELECT doc_id, g, count(*) AS k FROM g5 GROUP BY 1, 2
    ), d5 AS (
        SELECT doc_id, sum(k) AS pos,
               sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS dup_pos
        FROM c5 GROUP BY 1
    )
    SELECT b.doc_id,
           top_c * length(top_g) / chars AS top_gram_char_frac,
           CAST(dup_pos AS DOUBLE) / pos AS dup_gram_frac,
           CAST(nuniq AS DOUBLE) / ntok AS unique_word_frac
    FROM base b
    LEFT JOIN top USING (doc_id)
    LEFT JOIN d5 USING (doc_id)
"""


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long format (label, dim,
    centroid) — the class-prototype computation behind classifier-based
    corpus filtering and k-means seeding. One posexplode (in-executor
    fan-out, no pre-shuffle) then a (label, dim) hash aggregation with
    map-side partial means; output is |labels|×dim rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "_x")
    )
    return exploded.groupBy("label", "dim").agg(
        F.avg(F.col("_x").cast("double")).alias("centroid")
    )


LABEL_CENTROIDS_SQL = """
    SELECT label, dim, avg(x) AS centroid
    FROM (
        SELECT label,
               unnest(range(len(embedding))) AS dim,
               unnest([CAST(v AS DOUBLE) FOR v IN embedding]) AS x
        FROM embeddings
    )
    GROUP BY 1, 2
"""


def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup decision: exact blocked all-pairs cosine >= 0.45
    -> connected components (alternating star rounds) -> keep the
    minimum vec_id per component. The embedding-space counterpart of
    dedup_cluster_assignments; every vector gets (component, keep)."""
    from solar_logger_spark.operators import graph, similarity

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.neardup_pairs(emb, threshold=0.45)
    return graph.dedup_representatives(pairs, emb, id_col="vec_id")


SEMANTIC_DEDUP_SQL = """
    WITH RECURSIVE
    pairs AS ({neardup}),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    reach AS (
        SELECT vec_id AS node, vec_id AS label FROM embeddings
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
    )
    SELECT node AS vec_id, min(label) AS component,
           min(label) = node AS keep
    FROM reach GROUP BY node
"""


def dedup_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    8-token gram with a (deterministically hash-sampled) benchmark
    set — the GPT-3/PaLM training-data rule."""
    from solar_logger_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    bench = sampling.sample_fraction(docs, 0.1, ["doc_id"], seed=7)
    return dedup.benchmark_contamination(docs, bench, n=8)


BENCHMARK_CONTAMINATION_SQL = """
    WITH docs_t AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bench AS (
        SELECT doc_id FROM documents
        WHERE CAST(('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR) || chr(31) || '7'), 1, 15))
              AS BIGINT) % 1000000 < 100000
    ), dgrams AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest([array_to_string(t[i:i+7], ' ')
                           FOR i IN range(1, len(t) - 6)]) AS g
            FROM docs_t
        )
    ), bgrams AS (
        SELECT DISTINCT g FROM dgrams
        WHERE doc_id IN (SELECT doc_id FROM bench)
    ), sizes AS (
        SELECT doc_id, count(*) AS n_grams FROM dgrams GROUP BY 1
    ), hits AS (
        SELECT d.doc_id, count(*) AS n_contaminated
        FROM dgrams d JOIN bgrams USING (g)
        GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(n_grams, 0) AS n_grams,
           COALESCE(n_contaminated, 0) AS n_contaminated,
           COALESCE(n_contaminated, 0) > 0 AS contaminated
    FROM documents d
    LEFT JOIN sizes USING (doc_id)
    LEFT JOIN hits USING (doc_id)
"""


def corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup: per (source, lang) document/token/char
    totals and mean document length — the composition summary every
    training-data pipeline publishes. One hash aggregation, map-side
    combinable; output bounded by |sources|x|langs|."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(dedup.tokens("text")).cast("long")
    n_docs = F.count(F.lit(1))
    n_tokens = F.sum(toks)
    return docs.groupBy("source", "lang").agg(
        n_docs.alias("n_docs"),
        n_tokens.alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        (n_tokens.cast("double") / n_docs.cast("double")).alias("avg_tokens"),
    )


CORPUS_STATS_SQL = """
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
               / count(*) AS avg_tokens
    FROM documents
    GROUP BY 1, 2
"""


def text_word_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-frequency spectrum: the top-100 words with rank and
    count (the Zipf-curve input; also the stop-word list builder).

    The top-100 cut is ``orderBy(...).limit(100)``, which Spark compiles
    to TakeOrderedAndProject — each partition keeps its local top 100 and
    only those merge — so the full vocabulary (10^8-10^9 terms on web
    text) is never sorted on one executor. The 100 survivors are then
    ranked without any window: a global aggregate folds them into one
    sorted array (struct field order = the sort key, so ``array_sort``
    reproduces n DESC, word ASC) and ``posexplode`` yields the rank.
    All JVM-side; no single-partition WindowExec anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(dedup.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(100)
    arr = top.agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("n")).alias("neg_n"), "word", "n"))
        ).alias("arr")
    )
    return (
        arr.select(F.posexplode("arr").alias("pos", "s"))
        .select(
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("s.word").alias("word"),
            F.col("s.n").alias("n"),
        )
    )


WORD_FREQ_SQL = """
    SELECT rank, word, n FROM (
        SELECT word, n,
               row_number() OVER (ORDER BY n DESC, word ASC) AS rank
        FROM (
            SELECT word, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS word
                FROM documents
            ) GROUP BY word
        )
    ) WHERE rank <= 100
"""


def text_pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack non-overlapping 128-token chunks into 512-token training
    sequences per source shard (GPT-style concatenate-and-split)."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = text.chunk_documents(docs, chunk_tokens=128, overlap=0)
    chunks = chunks.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id", "chunk_index", "source", "n_tokens"
    )
    packed = text.pack_training_sequences(
        chunks, max_tokens=512, part_col="source"
    )
    return packed.select(
        "doc_id", "chunk_index", "source", "n_tokens", "seq_id", "seq_offset"
    )


PACK_SEQUENCES_SQL = """
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), starts AS (
        SELECT doc_id, source, ws,
               unnest(range(0, greatest(len(ws) - 1, 0) + 1, 128)) AS s
        FROM words
    ), chunks AS (
        SELECT doc_id, source,
               CAST(s / 128 AS INTEGER) AS chunk_index,
               CAST(len(list_slice(ws, s + 1, s + 128)) AS BIGINT) AS n_tokens
        FROM starts
    ), packed AS (
        SELECT *,
               sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id, chunk_index
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS start
        FROM chunks
    )
    SELECT doc_id, chunk_index, source, n_tokens,
           CAST(start // 512 AS BIGINT) AS seq_id,
           CAST(start % 512 AS BIGINT) AS seq_offset
    FROM packed
"""


def text_pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect-and-redact over the corpus (operators.text.pii_scrub).

    The synthetic corpus contains no PII, so the query plants a
    deterministic contact line per document IN the query (email + IPv4 +
    phone derived from doc_id) before scrubbing — the oracle builds the
    identical line, so the per-category counts and the md5 of the
    scrubbed text verify the full regex semantics cross-engine, not a
    vacuous zero. Pure map — no shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.com from 10."),
            (d % 200).cast("string"),
            F.lit(".0."),
            (d % 250).cast("string"),
            F.lit(" call +1 555 000 "),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    scrubbed = text.pii_scrub(aug)
    return scrubbed.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5("scrubbed").alias("scrub_md5"),
    )


_PII_AUG = (
    "text || ' contact user' || doc_id || '@example.com from 10.' "
    "|| (doc_id % 200) || '.0.' || (doc_id % 250) || ' call +1 555 000 ' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
_PII_PHONE = "\\+\\d[\\d ()-]{6,}\\d"
PII_SCRUB_SQL = f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(
               t, '{_PII_EMAIL}', '[PII]', 'g'),
                  '{_PII_IPV4}', '[PII]', 'g'),
                  '{_PII_PHONE}', '[PII]', 'g')) AS scrub_md5
    FROM aug
"""


def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing weights (alpha = 0.5): the
    sampling distribution training pipelines use to up-weight small
    high-quality sources against bulk web text — w_s = sqrt(n_s) /
    sum_s sqrt(n_s), plus each source's resulting over/under-sampling
    ratio vs natural frequency.

    alpha = 0.5 keeps the power IEEE-exact (sqrt is correctly rounded;
    an arbitrary pow() can differ between engines in the last ulp and
    break bit-comparison). The sqrt-weight total is NOT a plain double
    ``sum()`` — distributed partial-agg addition order differs from the
    oracle's scan order and double addition is association-sensitive
    (NOTES.md oracle discipline). Instead both engines fold the
    per-source weights in SORTED source order: collect_list →
    array_sort → left fold, |sources| elements, deterministic
    bit-identical total. One hash aggregate bounded by |sources|, the
    scalar total attached as a broadcast 1-row cross join."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        "source", "n_docs", F.sqrt(F.col("n_docs")).alias("_pw")
    )
    totals = per_src.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "_pw"))),
            F.lit(0.0),
            lambda acc, s: acc + s["_pw"],
        ).alias("_tot_pw"),
        F.sum("n_docs").alias("_tot_docs"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            (F.col("_pw") / F.col("_tot_pw")).alias("weight"),
            (
                (F.col("_pw") / F.col("_tot_pw"))
                / (
                    F.col("n_docs").cast("double")
                    / F.col("_tot_docs").cast("double")
                )
            ).alias("sampling_ratio"),
        )
        .orderBy("source")
    )


MIX_WEIGHTS_SQL = """
    WITH per_src AS (
        SELECT source, count(*) AS n_docs, sqrt(count(*)) AS pw
        FROM documents GROUP BY 1
    ), tot AS (
        -- fold in sorted source order (not sum()): bit-identical to the
        -- Spark side's array_sort + left fold of the same doubles
        SELECT list_reduce(
                   list(pw ORDER BY source), (a, b) -> a + b) AS tot_pw,
               sum(n_docs) AS tot_docs
        FROM per_src)
    SELECT source, n_docs,
           pw / tot_pw AS weight,
           (pw / tot_pw) / (CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE))
               AS sampling_ratio
    FROM per_src, tot
    ORDER BY source
"""


def text_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order assignment:
    every document gets a shard and an in-shard position from a seeded
    md5 key — the reproducible corpus shuffle that precedes sequence
    packing (same order on every rerun, any partitioning, any engine —
    md5 is bit-portable where engine hash functions are not).

    Shard = one hex nibble of the key (16-way split); position =
    row_number within the shard, a PARTITIONED window — no global sort,
    no single-partition exchange; shards order independently in
    parallel, which is exactly how shuffled corpora are written out
    (one file per shard)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle-42:"), F.col("doc_id").cast("string")))
    from pyspark.sql import Window

    keyed = docs.select(
        "doc_id",
        key.alias("shuffle_key"),
        (F.ascii(F.substring(key, 1, 1)) % 16).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


TRAINING_ORDER_SQL = """
    WITH keyed AS (
        SELECT doc_id,
               md5('shuffle-42:' || doc_id) AS shuffle_key,
               CAST(ascii(substr(md5('shuffle-42:' || doc_id), 1, 1)) % 16
                    AS INTEGER) AS shard
        FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY shuffle_key, doc_id) AS BIGINT)
               AS pos
    FROM keyed
"""


def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles (p25/p50/p90/p99): the
    length-profile table used to pick truncation and chunking budgets
    per source.

    Exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, both the standard type-7 estimator) — a
    per-group sort of each source's lengths, partitioned by the group
    key, nothing global. For 10^9-row sources swap in
    ``percentile_approx`` (t-digest, mergeable) — the exact form is the
    oracle-comparable one."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.percentile(
        F.col("n_chars"), F.array(*(F.lit(p) for p in (0.25, 0.5, 0.9, 0.99)))
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pct.alias("_q"),
        )
        .select(
            "source",
            "n_docs",
            F.col("_q")[0].alias("p25"),
            F.col("_q")[1].alias("p50"),
            F.col("_q")[2].alias("p90"),
            F.col("_q")[3].alias("p99"),
        )
        .orderBy("source")
    )


LENGTH_QUANTILES_SQL = """
    SELECT source, count(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS p25,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           quantile_cont(n_chars, 0.99) AS p99
    FROM documents
    GROUP BY source
    ORDER BY source
"""


def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge candidates: the top-20 adjacent
    character pairs by corpus frequency — the statistic a BPE tokenizer
    trainer computes each merge round (Sennrich et al. 2016, public).

    Pair counting runs over the DISTINCT word table weighted by word
    frequency (|vocab| rows explode, not the corpus), all JVM
    expressions; the top-20 cut is the distributed-TakeOrdered +
    array-fold-rank shape from text_word_freq_spectrum — no
    single-partition window anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    word_counts = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(dedup.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # single-char words have no pairs — and must be filtered BEFORE the
    # sequence: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
    # returning empty like DuckDB's range(1, 1)
    pairs = word_counts.filter(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )
    arr = top.agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("n")).alias("neg_n"), "pair", "n"))
        ).alias("arr")
    )
    return arr.select(F.posexplode("arr").alias("pos", "s")).select(
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("s.pair").alias("pair"),
        F.col("s.n").alias("n"),
    )


BPE_MERGE_SQL = """
    WITH word_counts AS (
        SELECT word, count(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ) GROUP BY word
    ), pairs AS (
        SELECT unnest([substr(word, i, 2) FOR i IN range(1, len(word))])
                   AS pair,
               n
        FROM word_counts
    ), top AS (
        SELECT pair, sum(n) AS n FROM pairs GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 20
    )
    SELECT CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT)
               AS rank,
           pair, CAST(n AS BIGINT) AS n
    FROM top
"""


def text_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE side of the BPE story: learn the top-20 merge list (the
    same statistic text_bpe_merge_candidates declares) and apply it to
    every document with operators.text.bpe_apply_merges — producing the
    ``(doc_id, pos, token, token_id)`` integer stream a training
    pipeline packs. The merge list is a 20-row bounded collect
    (ordered n DESC, pair ASC — deterministic), the encode itself is
    JVM array expressions per DISTINCT word + a broadcast replay onto
    the corpus, and the oracle re-derives the merge list and replays
    the same greedy closed form via list comprehensions."""
    docs = load_table(spark, sf_dir, "documents")
    word_counts = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(dedup.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = word_counts.filter(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
        .collect()  # 20 rows, bounded by construction
    )
    merges = [r["pair"] for r in top]
    return text.bpe_apply_merges(docs, merges)


BPE_ENCODE_SQL = """
    WITH word_counts AS (
        SELECT word, count(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ) GROUP BY word
    ), pairstats AS (
        SELECT unnest([substr(word, i, 2) FOR i IN range(1, len(word))])
                   AS pair,
               n
        FROM word_counts
    ), top AS (
        SELECT pair, sum(n) AS n FROM pairstats GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 20
    ), merges AS (
        SELECT list(pair ORDER BY n DESC, pair ASC) AS ml FROM top
    ), words AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS wi
        FROM documents
    ), wm AS (
        -- m[i]: the 2-char slice starting at i is in the merge list
        SELECT doc_id, wi, word,
               [i < len(word) AND list_contains(ml, substr(word, i, 2))
                FOR i IN range(1, len(word) + 1)] AS m
        FROM words, merges
        WHERE len(word) >= 1
    ), wms AS (
        -- greedy closed form: merge at i iff candidate and the
        -- distance from the last non-candidate before i is odd
        SELECT doc_id, wi, word,
               [m[i] AND (i - coalesce(list_max(
                    [j FOR j IN range(1, len(word) + 1)
                       IF j < i AND NOT m[j]]), 0)) % 2 = 1
                FOR i IN range(1, len(word) + 1)] AS ms
        FROM wm
    ), wtok AS (
        SELECT doc_id, wi,
               list_filter(
                   [CASE WHEN ms[i] THEN substr(word, i, 2)
                         WHEN i > 1 AND ms[i - 1] THEN NULL
                         ELSE substr(word, i, 1) END
                    FOR i IN range(1, len(word) + 1)],
                   t -> t IS NOT NULL) AS toks
        FROM wms
    ), flat AS (
        SELECT doc_id, wi,
               unnest(toks) AS token,
               generate_subscripts(toks, 1) AS ti
        FROM wtok
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti)
                AS BIGINT) AS pos,
           token,
           CAST(CASE WHEN length(token) = 2
                     THEN 256 + list_position(ml, token)
                     ELSE ascii(token) END AS INT) AS token_id
    FROM flat, merges
"""


def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END REAL media decode with a SQL oracle: each document
    gets a valid PPM (P6) image payload built JVM-side (dimensions
    derived from doc_id), and `extract_real_features` parses the binary
    header back in an Arrow batch — actual bytes through the actual
    decode path, no stub. The oracle reproduces the expected features
    arithmetically from doc_id, so a parsing bug (or a schema/batching
    bug in the mapInPandas plumbing) breaks the hash match.

    Pure map end to end: blob synthesis is JVM expressions, decode is
    one Arrow crossing, no shuffle at any corpus size."""
    from solar_logger_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    w = (F.lit(8) + d % 24).cast("int")
    h = (F.lit(4) + d % 12).cast("int")
    header = F.encode(
        F.concat(
            F.lit("P6\n"),
            w.cast("string"),
            F.lit(" "),
            h.cast("string"),
            F.lit("\n255\n"),
        ),
        "utf-8",
    )
    raster = F.encode(F.repeat(F.lit("x"), w * h * 3), "utf-8")
    blobs = docs.select("doc_id", F.concat(header, raster).alias("payload"))
    feats = mm.extract_real_features(blobs)
    return feats.select("doc_id", "n_bytes", "width", "height", "mode")


DECODE_PPM_SQL = """
    SELECT doc_id,
           CAST(3 + length(CAST(8 + doc_id % 24 AS VARCHAR)) + 1
                  + length(CAST(4 + doc_id % 12 AS VARCHAR)) + 5
                  + (8 + doc_id % 24) * (4 + doc_id % 12) * 3
                AS BIGINT) AS n_bytes,
           CAST(8 + doc_id % 24 AS INTEGER) AS width,
           CAST(4 + doc_id % 12 AS INTEGER) AS height,
           'RGB' AS mode
    FROM documents
"""


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-reduce the embedding table to 8 principal components —
    ORACLE-BACKED since r8 (was rows-only r4–r7, "eigendecomposition
    is not SQL"): ``pca.pca_fit_deterministic`` computes the moments
    as hierarchical pinned folds and the eigenvectors by FIXED
    md5-seeded power-iteration/deflation steps in pure-Python IEEE
    doubles, and the DuckDB twin replays the identical sequence (the
    eigensolve is a recursive CTE) — every pc value and the
    explained-variance ratio hash-compare. On this corpus's near-flat
    spectrum the deterministic subspace captures the same variance as
    numpy ``eigh`` (ratio 0.2030 vs 0.2035 at sf0.001; pinned in
    tests/test_pca.py) even where individual close-eigenvalue
    directions are ill-conditioned. ``pca.pca_fit`` (numpy eigh over
    partition-ordered partials) remains the throughput/accuracy path.
    Declared output stays SCALAR columns (pc0..pc7) — array cells are
    unhashable in the driver canonicalizer (r5 lesson)."""
    from solar_logger_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, evals, trace = pca.pca_fit_deterministic(
        emb, k=8, iters=40
    )
    ratio = 0.0
    for e in evals:  # left fold — mirrors SQL list_sum(evals)
        ratio += e
    ratio = ratio / trace
    from solar_logger_spark.operators.litfast import cd_s, dlit_s, dot_s

    vecs = emb.selectExpr(
        "vec_id", f"{cd_s('embedding')} AS v"
    ).selectExpr(
        "vec_id", "v",
        f"zip_with(v, {dlit_s(mean)}, (_za, _zb) -> _za - _zb) AS c",
    )
    return vecs.selectExpr(
        "vec_id",
        *[
            f"{dot_s('c', dlit_s(comps[i]))} AS pc{i}"
            for i in range(8)
        ],
        f"{dlit_s(ratio)} AS explained_ratio",
    )


def _pca_project_sql() -> str:
    """The SQL twin of the deterministic-PCA pipeline: hierarchical
    pinned-fold moments (rows fold in id order within ``id DIV 256``
    blocks, blocks fold in block order within ``b DIV 256``
    superblocks, superblocks fold in order), an md5-seeded power-iteration
    + deflation eigensolve as a RECURSIVE CTE (40 fixed steps per
    component, 8 components, sign-fixed), and fold-order projections —
    bit-identical to the Spark side at every stage (moments, each
    iterate, eigenvalues, projections, ratio)."""
    seed0 = (
        "CAST(('0x' || substring(md5('pca|' || CAST(0 AS VARCHAR) || '|' "
        "|| CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) "
        "/ 1152921504606846976.0 * 2.0 - 1.0"
    )
    seedn = seed0.replace("CAST(0 AS VARCHAR)", "CAST(comp + 1 AS VARCHAR)")
    pcs = ",\n           ".join(
        f"list_sum([(r.v[d] - m.mu[d]) * e.w[{i + 1}][d] "
        f"FOR d IN range(1, 65)]) AS pc{i}"
        for i in range(8)
    )
    return f"""
    WITH RECURSIVE raw AS (
        SELECT vec_id AS vid, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
        FROM embeddings
    ),
    blocks AS (
        SELECT vid // 256 AS b, list(v ORDER BY vid) AS ms, count(*) AS cnt
        FROM raw GROUP BY 1
    ),
    bsum AS (
        SELECT b, cnt,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 64)], ms),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 65)]) AS s
        FROM blocks
    ),
    bsb AS (
        SELECT b // 256 AS sb,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 64)],
                                        list(s ORDER BY b)),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 65)]) AS s2,
               sum(cnt) AS scnt
        FROM bsum GROUP BY b // 256
    ),
    msum AS (
        SELECT list_reduce(list_prepend([0.0 FOR d IN range(0, 64)],
                                        list(s2 ORDER BY sb)),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 65)]) AS total,
               sum(scnt) AS n
        FROM bsb
    ),
    meanv AS (SELECT [total[d] / n FOR d IN range(1, 65)] AS mu FROM msum),
    cent AS (
        SELECT vid, [v[d] - m.mu[d] FOR d IN range(1, 65)] AS c
        FROM raw, meanv m
    ),
    outerp AS (
        SELECT vid, [c[(kk - 1) // 64 + 1] * c[(kk - 1) % 64 + 1]
                     FOR kk IN range(1, 4097)] AS o
        FROM cent
    ),
    oblocks AS (
        SELECT vid // 256 AS b, list(o ORDER BY vid) AS ms
        FROM outerp GROUP BY 1
    ),
    obsum AS (
        SELECT b,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 4096)], ms),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 4097)]) AS s
        FROM oblocks
    ),
    osb AS (
        SELECT b // 256 AS sb,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 4096)],
                                        list(s ORDER BY b)),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 4097)]) AS s2
        FROM obsum GROUP BY b // 256
    ),
    cov AS (
        SELECT list_reduce(list_prepend([0.0 FOR d IN range(0, 4096)],
                                        list(s2 ORDER BY sb)),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 4097)]) AS cf
        FROM osb
    ),
    pit AS (
        SELECT 0 AS comp, 0 AS iter, cf,
               [{seed0} FOR d IN range(0, 64)] AS v,
               CAST([] AS DOUBLE[]) AS evals,
               CAST([] AS DOUBLE[][]) AS w
        FROM cov
        UNION ALL
        SELECT CASE WHEN iter < 40 THEN comp ELSE comp + 1 END,
               CASE WHEN iter < 40 THEN iter + 1 ELSE 0 END,
               CASE WHEN iter < 40 THEN cf ELSE
                    [cf[kk] - lam * v[(kk - 1) // 64 + 1]
                              * v[(kk - 1) % 64 + 1]
                     FOR kk IN range(1, 4097)] END,
               CASE WHEN iter < 40 THEN [y / nrm FOR y IN mv] ELSE
                    [{seedn} FOR d IN range(0, 64)] END,
               CASE WHEN iter < 40 THEN evals
                    ELSE list_append(evals, lam) END,
               CASE WHEN iter < 40 THEN w ELSE list_append(w,
                    CASE WHEN v[list_position([abs(x) FOR x IN v],
                                list_max([abs(x) FOR x IN v]))] < 0
                         THEN [-x FOR x IN v] ELSE v END) END
        FROM (
            SELECT comp, iter, cf, v, evals, w, mv,
                   sqrt(list_sum([y * y FOR y IN mv])) AS nrm,
                   list_sum([v[i] * mv[i] FOR i IN range(1, 65)]) AS lam
            FROM (
                SELECT comp, iter, cf, v, evals, w,
                       [list_sum([cf[(i - 1) * 64 + j] * v[j]
                                  FOR j IN range(1, 65)])
                        FOR i IN range(1, 65)] AS mv
                FROM pit WHERE comp < 8
            ) a
        ) b
    )
    SELECT r.vid AS vec_id,
           {pcs},
           list_sum(e.evals) / t.tr AS explained_ratio
    FROM raw r, meanv m,
         (SELECT evals, w FROM pit WHERE comp = 8) e,
         (SELECT list_sum([cf[(i - 1) * 64 + i] FOR i IN range(1, 65)])
                 AS tr FROM cov) t
    """


PCA_PROJECT_SQL = _pca_project_sql()


def text_length_bucketed_batches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic-padding batch assignment over the documents table
    (operators.text.length_bucketed_batches): length bands 16/32/64/
    128/256 tokens, batch size 8, 4 shards. The shard hash is the
    md5-prefix recipe so the DuckDB twin re-derives identical shards,
    ranks, pad targets, and waste — every column integer/bool, so the
    comparison is exact by construction."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16, 10,
        ).cast("bigint"),
        F.lit(4),
    )
    return text.length_bucketed_batches(
        docs, batch_size=8, bands=(16, 32, 64, 128, 256), n_shards=4,
        shard_col=shard,
    )


LENGTH_BUCKETED_SQL = """
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(
                   CAST(('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 4 AS INT) AS shard
        FROM documents
    ),
    b AS (
        SELECT doc_id, n_tokens, shard,
               CASE WHEN n_tokens <= 16 THEN 16
                    WHEN n_tokens <= 32 THEN 32
                    WHEN n_tokens <= 64 THEN 64
                    WHEN n_tokens <= 128 THEN 128
                    ELSE 256 END AS bucket
        FROM t
    ),
    r AS (
        SELECT doc_id, n_tokens, bucket, shard,
               CAST(floor((row_number() OVER (
                   PARTITION BY bucket, shard
                   ORDER BY n_tokens, doc_id) - 1) / 8) AS BIGINT)
                   AS batch_idx
        FROM b
    )
    SELECT doc_id, n_tokens, bucket, shard, batch_idx,
           max(n_tokens) OVER wb AS pad_to,
           max(n_tokens) OVER wb - n_tokens AS pad_waste,
           (count(*) OVER wb = 8) AS is_full
    FROM r
    WINDOW wb AS (PARTITION BY bucket, shard, batch_idx)
"""


def corpus_content_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source dataset-card rows over the documents table: row
    count plus the io/manifest content fingerprint — the EXACT recipe
    ``manifest.content_fingerprint`` writes into each snapshot's card
    (shared ``manifest.row_hash_expr`` over ALL table columns, so the
    two cannot drift), declared so the driver hash-compares the recipe
    itself. Because the fingerprint is an exact DECIMAL sum, the
    per-source values here sum (as integers) to the whole-table card
    value — the audit a consumer runs on a shipped slice
    (pytest-pinned in test_manifest). The DuckDB twin reproduces
    Spark's to_json byte for byte, including NULL-field omission
    (concat_ws skips the CASE-null fragments); strings are ASCII-safe
    in this corpus (no quotes/escapes), the documented to_json
    assumption."""
    from solar_logger_spark.io import manifest as MF

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(MF.row_hash_expr(docs.columns))
            .cast("decimal(38,0)").cast("string").alias("fingerprint"),
        )
        .orderBy("source")
    )


CORPUS_FINGERPRINTS_SQL = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(CAST(('0x' || substring(md5(
                   '{' || concat_ws(',',
                       CASE WHEN doc_id IS NOT NULL
                            THEN '"doc_id":' || CAST(doc_id AS VARCHAR)
                            END,
                       CASE WHEN text IS NOT NULL
                            THEN '"text":"' || text || '"' END,
                       CASE WHEN lang IS NOT NULL
                            THEN '"lang":"' || lang || '"' END,
                       CASE WHEN source IS NOT NULL
                            THEN '"source":"' || source || '"' END,
                       CASE WHEN n_chars IS NOT NULL
                            THEN '"n_chars":' || CAST(n_chars AS VARCHAR)
                            END
                   ) || '}'), 1, 15)) AS BIGINT)
               AS HUGEINT)) AS VARCHAR) AS fingerprint
    FROM documents
    GROUP BY source
    ORDER BY source
"""


def embedding_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign-free random projection of the
    embedding table to 8 dims (operators.pca.jl_project) — the
    training-free compression step before ANN indexing, and the
    HASH-COMPARABLE counterpart of the rows-only PCA query: the md5
    coefficient grid and the left-fold dot products are re-derived
    identically by the DuckDB twin (the similarity_ann_lsh recipe)."""
    from solar_logger_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    return pca.jl_project(emb, out_dim=8, dim=64, seed=31)


JL_PROJECT_SQL = """
    WITH w AS (
        SELECT j,
               [CAST(('0x' || substring(md5('plane|31|'
                       || CAST(j AS VARCHAR)
                       || '|' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0 * 2.0 - 1.0
                FOR d IN range(0, 64)] AS w
        FROM range(0, 8) tj(j)
    ),
    vecs AS (
        SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
        FROM embeddings
    ),
    proj AS (
        SELECT vecs.vec_id, w.j,
               list_sum([vecs.v[i] * w.w[i] FOR i IN range(1, 65)])
                   * sqrt(3.0 / 8.0) AS p
        FROM vecs, w
    )
    SELECT vec_id,
           max(CASE WHEN j = 0 THEN p END) AS jl0,
           max(CASE WHEN j = 1 THEN p END) AS jl1,
           max(CASE WHEN j = 2 THEN p END) AS jl2,
           max(CASE WHEN j = 3 THEN p END) AS jl3,
           max(CASE WHEN j = 4 THEN p END) AS jl4,
           max(CASE WHEN j = 5 THEN p END) AS jl5,
           max(CASE WHEN j = 6 THEN p END) AS jl6,
           max(CASE WHEN j = 7 THEN p END) AS jl7
    FROM proj
    GROUP BY vec_id
"""


def ts_anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection (trailing 25 points per
    event_type series, |z| > 3): operators.timeseries.anomaly_zscore —
    the telemetry-monitoring capability a solar logger exists for.
    Exact-decimal window moments make the score bit-comparable to the
    SQL oracle."""
    from solar_logger_spark.operators import timeseries as T
    from solar_logger_spark.operators.spread import spread_small

    # a one-split events table reads as one partition, and the
    # per-series windows would then run in one task; spreading wins at
    # sf0.1 (0.76 -> 0.63 s, 4 cores) and loses ~40 ms at sf0.01
    events = spread_small(load_table(spark, sf_dir, "events"))
    out = T.anomaly_zscore(
        events, n=25, series=["event_type"], tiebreak=["event_id"]
    )
    return out.select("event_id", "event_type", "value", "z", "is_anomaly")


ANOMALY_ZSCORE_SQL = """
    WITH m AS (
        -- each decimal moment cast to double ONCE; the variance is then
        -- pure IEEE double arithmetic, matching the Spark side exactly
        -- (combining while decimal overflows precision 38 and truncates)
        SELECT event_id, event_type, value,
               CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
               CAST(sum(CAST(value AS DECIMAL(18,6))
                        * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   AS sxx,
               CAST(count(value) OVER w AS DOUBLE) AS cnt
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, value,
           CASE WHEN cnt > 1 AND cnt * sxx - sx * sx > 0
                THEN (value - sx / cnt)
                     / sqrt((cnt * sxx - sx * sx) / (cnt * (cnt - 1)))
           END AS z,
           coalesce(abs(CASE WHEN cnt > 1 AND cnt * sxx - sx * sx > 0
                             THEN (value - sx / cnt)
                                  / sqrt((cnt * sxx - sx * sx)
                                         / (cnt * (cnt - 1)))
                        END) > 3.0, false) AS is_anomaly
    FROM m
"""


def ts_interpolate_linear_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux interpolate.linear over a deterministically-holed series:
    the events table has no nulls, so the query nulls out every 7th
    event in-query (the oracle does the same) and the operator
    reconstructs them from the straight line between surviving
    neighbors — time-weighted, leading/trailing gaps left null."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    holed = events.withColumn(
        "value",
        F.when(F.col("event_id") % 7 != 0, F.col("value")),
    )
    out = T.interpolate_linear(
        holed, series=["event_type"], tiebreak=["event_id"]
    )
    return out.select("event_id", "event_type", "value", "filled")


INTERPOLATE_SQL = """
    WITH holed AS (
        SELECT event_id, event_type, ts,
               CASE WHEN event_id % 7 != 0 THEN value END AS value
        FROM events
    ), n AS (
        SELECT event_id, event_type, ts, value,
               last_value(value IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_v,
               last_value(CASE WHEN value IS NOT NULL
                               THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_t,
               first_value(value IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_v,
               first_value(CASE WHEN value IS NOT NULL
                                THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_t
        FROM holed
    )
    SELECT event_id, event_type, value,
           CASE WHEN value IS NOT NULL THEN value
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                THEN CASE WHEN next_t = prev_t THEN prev_v
                          ELSE prev_v + (next_v - prev_v)
                               * (CAST(epoch_us(ts) - prev_t AS DOUBLE)
                                  / CAST(next_t - prev_t AS DOUBLE)) END
           END AS filled
    FROM n
"""


def flux_correlation_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``pearsonr(x, y, on: time)``: correlation between the click
    and view series aligned on 6-hour buckets.

    Alignment is one conditional-sum hash aggregation (no join); bucket
    sums stay EXACT DECIMAL so every engine sees identical inputs, and
    the correlation is assembled from five decimal moments cast to
    double once — the remaining ops (products, subtraction, sqrt,
    divide) are IEEE-exact, so the single output value hash-matches the
    oracle. Two shuffles total, the second over one row."""
    events = load_table(spark, sf_dir, "events")
    bucket = F.floor(epoch_us("ts") / F.lit(21_600_000_000)).alias("bucket")
    xd = F.col("value").cast("decimal(12,2)")
    per_bucket = (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy(bucket)
        .agg(
            F.sum(F.when(F.col("event_type") == "click", xd)).alias("x"),
            F.sum(F.when(F.col("event_type") == "view", xd)).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select(F.col("x").cast("decimal(15,2)").alias("x"),
                F.col("y").cast("decimal(15,2)").alias("y"))
    )
    m = per_bucket.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(corr.alias("pearson_r"))


CORRELATION_SQL = """
    WITH per_bucket AS (
        SELECT CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DECIMAL(15,2)) AS x,
               CAST(sum(CASE WHEN event_type = 'view'
                             THEN CAST(value AS DECIMAL(12,2)) END)
                    AS DECIMAL(15,2)) AS y
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY 1
        HAVING x IS NOT NULL AND y IS NOT NULL
    ), m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM per_bucket
    )
    SELECT (n * sxy - sx * sy)
           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
               AS pearson_r
    FROM m
"""


def ts_anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly summary per series: median, median
    absolute deviation, and the count of points beyond 3.5 robust
    z-units (|x − med| > 3.5 · 1.4826 · MAD) — the outlier rule that
    survives the contamination that wrecks mean/stddev z-scores.

    Three chained aggregations (median → MAD → count), each bridged by
    broadcasting the |series|-row stats table back into the event scan;
    percentiles are exact (per-group sort partitioned on the series key
    — same exact-vs-approx tradeoff documented on
    corpus_length_quantiles) and the remaining ops are IEEE-exact, so
    every output hash-matches the oracle."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("median")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "median",
        F.abs(F.col("value") - F.col("median")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.first("median").alias("median"),
        F.percentile("ad", F.lit(0.5)).alias("mad"),
    )
    flagged = dev.select("event_type", "ad").join(
        F.broadcast(mad), "event_type"
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.first("median").alias("median"),
            F.first("mad").alias("mad"),
            F.sum(
                (
                    F.col("ad") > F.lit(3.5) * F.lit(1.4826) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


ANOMALY_MAD_SQL = """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS median
        FROM events GROUP BY 1
    ), dev AS (
        SELECT e.event_type, m.median, abs(e.value - m.median) AS ad
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, any_value(median) AS median,
               quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type, any_value(m.median) AS median,
           any_value(m.mad) AS mad,
           CAST(sum(CASE WHEN d.ad > 3.5 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    ORDER BY 1
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 min-max quantization of the embedding table
    (operators.quantize): the standard 4x storage/serving compression
    before shipping an embedding index. Fit is one dim-group hash agg
    collected as a bounded 64-value literal; encode is a shuffle-free
    HOF map. Output summaries are integer-exact (code_sum) or
    order-independent (min/max), so the oracle hash-matches."""
    from solar_logger_spark.operators import quantize

    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = quantize.fit_minmax(emb)
    return quantize.quantize_int8(emb, mins, maxs).select(
        "vec_id", "code_sum", "min_code", "max_code", "max_abs_err"
    )


QUANTIZE_INT8_SQL = """
    WITH flat AS (
        SELECT unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                   AS v,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings
    ), dims AS (
        SELECT i, min(v) AS mn, max(v) AS mx FROM flat GROUP BY i
    ), d AS (
        SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        FROM dims
    ), coded AS (
        SELECT e.vec_id,
               [CASE WHEN d.mxs[i] > d.mns[i]
                     THEN CAST(round(((CAST(e.embedding[i] AS DOUBLE)
                                       - d.mns[i])
                                      / (d.mxs[i] - d.mns[i])) * 254.0)
                          AS INTEGER)
                     ELSE 0 END
                FOR i IN range(1, len(e.embedding) + 1)] AS cs,
               [abs(CAST(e.embedding[i] AS DOUBLE)
                    - (d.mns[i]
                       + CAST(CASE WHEN d.mxs[i] > d.mns[i]
                                   THEN CAST(round(((CAST(e.embedding[i]
                                                         AS DOUBLE)
                                                     - d.mns[i])
                                                    / (d.mxs[i] - d.mns[i]))
                                                   * 254.0) AS INTEGER)
                                   ELSE 0 END AS DOUBLE)
                         * ((d.mxs[i] - d.mns[i]) / 254.0)))
                FOR i IN range(1, len(e.embedding) + 1)] AS errs
        FROM embeddings e, d
    )
    SELECT vec_id, CAST(list_sum(cs) AS BIGINT) AS code_sum,
           CAST(list_min(cs) AS INTEGER) AS min_code,
           CAST(list_max(cs) AS INTEGER) AS max_code,
           list_max(errs) AS max_abs_err
    FROM coded
"""


def embedding_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balance audit before topic/cluster-capped corpus
    sampling: assign every embedding to its nearest of K=8 seeded
    centroids (the lowest-vec_id vectors — data-derived and
    deterministic, so the oracle reproduces them in SQL) by squared L2,
    ties to the lowest centroid id, then report per-cluster membership
    and distance spread.

    Scale shape: bounded K-row collect -> literal centroid array; the
    argmin is a pure per-row HOF map (no |corpus| x K shuffle — the
    cross product lives inside one projection); the only exchange is
    the final K-group hash agg. Squared-L2 accumulates left-to-right in
    double on both sides (same discipline as COSINE_TOPK_SQL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    cents.sort(key=lambda r: r["vec_id"])
    from solar_logger_spark.operators.litfast import cd_s, d2_s, dlit_s

    # centroid literal + argmin rendered as ONE SQL expression
    # (litfast): the per-element F.lit / per-node HOF build cost ~3k
    # py4j round trips per call — identical values and folds.
    carr = "array(" + ",".join(
        f"named_struct('cid', {int(r['vec_id'])}, "
        f"'cvec', {dlit_s([float(x) for x in r['embedding']])})"
        for r in cents
    ) + ")"
    scores = (
        f"transform({carr}, _c -> named_struct("
        f"'d2', {d2_s(cd_s('embedding'), '_c.cvec')}, 'cid', _c.cid))"
    )
    best = f"array_min({scores})"
    assigned = emb.selectExpr(
        "vec_id",
        f"({best}).cid AS cluster_id",
        f"({best}).d2 AS d2",
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("d2").alias("min_d2"),
            F.max("d2").alias("max_d2"),
        )
        .orderBy("cluster_id")
    )


CLUSTER_BALANCE_SQL = """
    WITH c AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings WHERE vec_id < 8
    ), scored AS (
        SELECT e.vec_id, c.cid,
               list_sum([(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                         * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                         FOR i IN range(1, len(e.embedding) + 1)]) AS d2
        FROM embeddings e, c
    ), best AS (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM scored
    )
    SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           min(d2) AS min_d2, max(d2) AS max_d2
    FROM best WHERE rn = 1
    GROUP BY cid
    ORDER BY cid
"""


def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (operators.text.dsir_weights) with
    the English slice as the selection target — the data-selection
    scoring pass that decides each document's resampling weight when
    building a target-matched training mix. Integer token masses + one
    final double division keep it hash-exact vs the oracle."""
    from solar_logger_spark.operators import text as TXT

    docs = load_table(spark, sf_dir, "documents")
    return TXT.dsir_weights(docs, target=F.col("lang") == "en")


DSIR_WEIGHTS_SQL = """
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_t,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, count(*) AS cc,
               count(*) FILTER (WHERE is_t) AS tc
        FROM toks GROUP BY tok
    ), tot AS (
        SELECT sum(cc) AS corpus_total, sum(tc) AS target_total FROM vocab
    ), doc AS (
        SELECT doc_id, count(*) AS n_tokens, sum(v.tc) AS target_mass,
               sum(v.cc) AS corpus_mass
        FROM toks t JOIN vocab v USING (tok)
        GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(target_mass AS BIGINT) AS target_mass,
           CAST(corpus_mass AS BIGINT) AS corpus_mass,
           (CAST(target_mass AS DOUBLE) * CAST(tot.corpus_total AS DOUBLE))
           / (CAST(corpus_mass AS DOUBLE) * CAST(tot.target_total AS DOUBLE))
               AS importance
    FROM doc, tot
"""


def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus build — the full training-data funnel in one
    declared query, composing the separately-verified stages:

      language-confidence cutoff (drop only when confidently a
          different language than declared — cleaning.lang_keep_filter,
          the C4 "English-only" stage generalized to declared-lang
          agreement)
        → quality filter (composite score >= 0.62)
        → exact n-gram-Jaccard near-dup partner prune (drop any doc
          with a LOWER-id partner at jaccard >= 0.5 — the one-pass
          production variant; the transitive-closure alternative is
          dedup_cluster_assignments / embedding_semantic_dedup)
        → 128-token chunking
        → 512-token GPT-style sequence packing per source shard

    reported as a per-source funnel: docs in → after lang cutoff →
    after quality → after dedup → chunks / tokens / packed sequences. ``n_sequences`` comes
    from the ACTUAL packed output (count of distinct seq_id); the
    oracle independently recomputes the running-sum window in SQL —
    note it is NOT ceil(total_tokens / 512), because a straddling final
    chunk can leave the last 512-window with no chunk start.

    Scale shape: each stage keeps its audited topology (score/chunk/
    pack are map+window, the prune inherits the inverted-index join);
    the funnel counts are per-source hash aggs joined on the
    |sources|-bounded key. In production the inter-stage frames would
    be persisted tables; as a declared query, lineage barriers on the
    two kept frames stand in for those tables (keptl feeds 2 consumers
    and keptq 4 — without the cut, Catalyst re-evaluates the n-gram
    language scoring once per consumer: measured 4.5s -> 2.9s
    steady-state at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    keptl = cleaning.lang_keep_filter(docs).localCheckpoint(eager=False)
    scored = text.quality_score(keptl).select("doc_id", "quality_score")
    keptq = keptl.join(
        scored.filter(F.col("quality_score") >= 0.62).select("doc_id"),
        "doc_id",
    ).localCheckpoint(eager=False)
    pairs = dedup.ngram_jaccard_pairs(keptq, threshold=0.5)
    # Third barrier (r12): surv feeds chunk_documents AND the source
    # join below — without the cut the whole near-dup prune subtree
    # (inverted-index pair join + left-anti) is planned and EXECUTED
    # twice (visible as two SortMergeJoin LeftAnti chains in the
    # before-plan).
    surv = keptq.join(
        pairs.select(F.col("b_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).localCheckpoint(eager=False)
    chunks = (
        text.chunk_documents(surv, chunk_tokens=128, overlap=0)
        .join(surv.select("doc_id", "source"), "doc_id")
        .select("doc_id", "chunk_index", "source", "n_tokens")
    )
    packed = text.pack_training_sequences(
        chunks, max_tokens=512, part_col="source"
    )
    f_in = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_in")
    )
    f_l = keptl.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_lang")
    )
    f_q = keptq.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_quality")
    )
    # n_docs_kept comes from the packed output (every surviving doc
    # yields >= 1 chunk), so the expensive prune subtree is planned
    # once instead of twice
    f_p = packed.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_kept"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("seq_id").cast("long").alias("n_sequences"),
    )
    return (
        f_in.join(f_l, "source", "left")
        .join(f_q, "source", "left")
        .join(f_p, "source", "left")
        .na.fill(
            {
                "n_docs_lang": 0,
                "n_docs_quality": 0,
                "n_docs_kept": 0,
                "n_chunks": 0,
                "total_tokens": 0,
                "n_sequences": 0,
            }
        )
        .orderBy("source")
    )


def _lang_sql_parts() -> dict[str, str]:
    """text.lang_sql_parts (the single SQL source of the language
    fragments) plus the keep predicate of cleaning.lang_keep_filter —
    composed by the lang-confidence oracle AND the corpus-build funnel
    oracle, so the cutoff rule cannot drift between them."""
    p = dict(text.lang_sql_parts())
    p["keep"] = (
        f"({p['total']} < 3"
        f" OR CAST({p['top']} AS DOUBLE) / CAST({p['total']} AS DOUBLE)"
        f" < 0.8"
        f" OR ({p['case']}) IS NOT DISTINCT FROM lang)"
    )
    return p


_LANG_SQL = _lang_sql_parts()
_LANG_HIT_COLS_SQL = _LANG_SQL["hit_cols"]
_LANG_KEEP_WHERE_SQL = _LANG_SQL["keep"]


PIPELINE_CORPUS_BUILD_SQL = f"""
    WITH langh AS (
        SELECT doc_id, lang, {_LANG_HIT_COLS_SQL} FROM documents
    ), keptl AS (
        SELECT d.* FROM documents d
        JOIN (SELECT doc_id FROM langh WHERE {_LANG_KEEP_WHERE_SQL}) l
        USING (doc_id)
    ), base AS (
        SELECT doc_id, source, text,
               {_QUALITY_BASE_COLS_SQL}
        FROM keptl
    ), keptq AS (
        SELECT doc_id, source, text FROM base
        WHERE {_QUALITY_SCORE_EXPR_SQL}
              >= 0.62
    ), words AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM keptq
    ), sh AS (
        SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in range(1, greatest(len(ws) - 1, 1))])
                   AS s
        FROM words
    ),
    sd AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM sd a JOIN sd b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pruned AS (
        SELECT DISTINCT b_id FROM pairs
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
              >= 0.5
    ), surv AS (
        SELECT * FROM words
        WHERE doc_id NOT IN (SELECT b_id FROM pruned)
    ), starts AS (
        SELECT doc_id, source, ws,
               unnest(range(0, greatest(len(ws) - 1, 0) + 1, 128)) AS st
        FROM surv
    ), chunks AS (
        SELECT doc_id, source, CAST(st / 128 AS INTEGER) AS chunk_index,
               CAST(len(list_slice(ws, st + 1, st + 128)) AS BIGINT)
                   AS n_tokens
        FROM starts
    ), packedq AS (
        SELECT source, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id, chunk_index
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS start
        FROM chunks
    ),
    f_in AS (SELECT source, count(*) AS n_docs_in FROM documents GROUP BY 1),
    f_l AS (SELECT source, count(*) AS n_docs_lang FROM keptl GROUP BY 1),
    f_q AS (SELECT source, count(*) AS n_docs_quality FROM keptq GROUP BY 1),
    f_k AS (SELECT source, count(*) AS n_docs_kept FROM surv GROUP BY 1),
    f_c AS (
        SELECT source, count(*) AS n_chunks, sum(n_tokens) AS total_tokens,
               count(DISTINCT start // 512) AS n_sequences
        FROM packedq GROUP BY 1
    )
    SELECT f_in.source,
           CAST(n_docs_in AS BIGINT) AS n_docs_in,
           CAST(coalesce(n_docs_lang, 0) AS BIGINT) AS n_docs_lang,
           CAST(coalesce(n_docs_quality, 0) AS BIGINT) AS n_docs_quality,
           CAST(coalesce(n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
           CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(total_tokens, 0) AS BIGINT) AS total_tokens,
           CAST(coalesce(n_sequences, 0) AS BIGINT) AS n_sequences
    FROM f_in
    LEFT JOIN f_l USING (source)
    LEFT JOIN f_q USING (source)
    LEFT JOIN f_k USING (source)
    LEFT JOIN f_c USING (source)
    ORDER BY source
"""


def text_classifier_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-style hashed linear classifier scoring over the corpus
    (operators.text.hashed_classifier_score): the model-based quality
    filter's scoring plumbing — token hash → feature bucket → weight
    accumulation — as pure JVM expressions. Integer weight sums + one
    final division keep it hash-exact vs the oracle."""
    from solar_logger_spark.operators import text as TXT

    docs = load_table(spark, sf_dir, "documents")
    return TXT.hashed_classifier_score(docs)


CLASSIFIER_SCORE_SQL = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), feats AS (
        SELECT doc_id,
               (CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1024)
                   AS bucket
        FROM toks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum((bucket * 2654435761) % 1001 - 500) AS BIGINT)
               AS raw_score,
           CAST(sum((bucket * 2654435761) % 1001 - 500) AS DOUBLE)
           / (500.0 * CAST(count(*) AS DOUBLE)) AS score
    FROM feats
    GROUP BY doc_id
"""


def ts_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detection per event_type series
    (operators.timeseries.cusum_drift): cumulative-deviation
    changepoint monitoring — the slow-degradation complement to the
    rolling z-score and MAD monitors. Exact-decimal prefix sums +
    running minima make both CUSUM statistics hash-exact vs the
    oracle."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.cusum_drift(
        events, series=["event_type"], tiebreak=["event_id"]
    )
    return out.select(
        "event_id", "event_type", "value", "cusum_pos", "cusum_neg",
        "is_drift",
    )


CUSUM_SQL = """
    WITH stats AS (
        SELECT event_type,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(value AS DECIMAL(18,6))
                        * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
               CAST(count(value) AS DOUBLE) AS cnt
        FROM events GROUP BY 1
    ), base AS (
        SELECT e.event_id, e.event_type, e.ts, e.value,
               s.sx / s.cnt AS mean,
               CASE WHEN s.cnt > 1 AND s.cnt * s.sxx - s.sx * s.sx > 0
                    THEN sqrt((s.cnt * s.sxx - s.sx * s.sx)
                              / (s.cnt * (s.cnt - 1)))
               END AS sigma
        FROM events e JOIN stats s USING (event_type)
    ), q AS (
        SELECT *,
               CAST(value - mean - 0.5 * sigma AS DECIMAL(18,6)) AS qp,
               CAST(mean - value - 0.5 * sigma AS DECIMAL(18,6)) AS qn
        FROM base
    ), c AS (
        SELECT *, sum(qp) OVER w AS cqp, sum(qn) OVER w AS cqn
        FROM q
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), m AS (
        -- NOT least(): DuckDB's least() on decimals returns DOUBLE,
        -- which re-introduces the catastrophic cancellation the whole
        -- decimal chain exists to avoid; CASE keeps DECIMAL(38,6)
        SELECT *,
               CASE WHEN min(cqp) OVER w2 < 0 THEN min(cqp) OVER w2
                    ELSE CAST(0 AS DECIMAL(38,6)) END AS mqp,
               CASE WHEN min(cqn) OVER w2 < 0 THEN min(cqn) OVER w2
                    ELSE CAST(0 AS DECIMAL(38,6)) END AS mqn
        FROM c
        WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, value,
           CAST(cqp - mqp AS DOUBLE) AS cusum_pos,
           CAST(cqn - mqn AS DOUBLE) AS cusum_neg,
           coalesce(CAST(cqp - mqp AS DOUBLE) > 4.0 * sigma
                    OR CAST(cqn - mqn AS DOUBLE) > 4.0 * sigma,
                    false) AS is_drift
    FROM m
"""


def ts_holt_smoothing_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + trend) smoothing per user
    series (operators.timeseries.holt_smoothing) — the non-seasonal
    core of Flux's holtWinters forecaster. r12: runs as a 2-state
    affine scan in closed matrix form (the coupled recursion
    substituted value-independent, operators/timeseries.py); the
    oracle replays the pinned fold order with POSITIONAL DOUBLE[]
    map lists — a ``list_reduce`` STRUCT accumulator is unusable
    because DuckDB v1.0.0 evaluates result-struct fields sequentially
    with ``acc`` aliased in place (a field reading another field's
    input silently sees the updated value; nested single-field
    structs do not escape it), while list construction is atomic.
    Bitwise-verified at sf0.001 and sf0.01."""
    from solar_logger_spark.operators import timeseries as T

    # scan input pruned to what the scan + final select need:
    # mapInPandas is opaque to Catalyst, so an unpruned frame
    # ships every column (incl. the fat props JSON) through the
    # rank exchange, Arrow, and the block checkpoint (guide 4.1)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = T.holt_smoothing(
        events, series=["user_id"], tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "level", "trend")


# Holt closed matrix constants (alpha = 0.2, beta = 0.1) — the exact
# doubles timeseries.holt_smoothing computes in Python
_HA, _HB = 0.2, 0.1
_H = {
    "a": repr(1.0 - _HA),           # 0.8
    "nba": repr(-(_HB * _HA)),      # -beta*alpha
    "iba": repr(1.0 - _HB * _HA),   # 1 - beta*alpha
    "ba": repr(_HB * _HA),          # beta*alpha
    "al": repr(_HA),
}

HOLT_SMOOTHING_SQL = _scan_sql.scan_query_sql(
    tag="holt_",
    base="SELECT user_id, ts, event_id, value FROM events",
    series=["user_id"],
    order="ts, event_id",
    d=2,
    maps={
        "a11": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_H['a']} END",
        "a12": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_H['a']} END",
        "a21": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_H['nba']} END",
        "a22": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_H['iba']} END",
        "c1": f"CASE WHEN rn = 1 THEN value ELSE {_H['al']} * value END",
        "c2": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_H['ba']} * value END",
    },
    select="x.event_id, x.user_id, y.v1 AS level, y.v2 AS trend",
)


def ts_holtwinters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal Holt-Winters per event_type series with a
    24-step season (operators.timeseries.holt_winters) — the full Flux
    holtWinters recursion, zero-init seasonals for exact oracle
    reproducibility. The oracle replays the recursion through a
    RECURSIVE CTE whose only carried state is (l, b) plus the fixed
    period-length seasonal ring — O(L·m) per series."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.holt_winters(
        events, series=["event_type"], period=24, tiebreak=["event_id"]
    )
    return out.select(
        "event_id", "event_type", "level", "trend", "seasonal"
    )


HOLT_WINTERS_SQL = """
    WITH RECURSIVE s AS (
        SELECT event_type, list(value ORDER BY ts, event_id) AS vals,
               list(event_id ORDER BY ts, event_id) AS ids
        FROM events GROUP BY event_type
    ), r AS (
        SELECT event_type, 1 AS rn,
               CAST(vals[1] AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b,
               CAST(0 AS DOUBLE) AS sn,
               [CAST(0 AS DOUBLE) FOR i IN range(24)] AS seas
        FROM s
        UNION ALL
        SELECT r.event_type, r.rn + 1,
               0.3::DOUBLE * (CAST(s.vals[r.rn + 1] AS DOUBLE) - r.seas[1])
                   + 0.7::DOUBLE * (r.l + r.b),
               0.1::DOUBLE * ((0.3::DOUBLE
                               * (CAST(s.vals[r.rn + 1] AS DOUBLE)
                                  - r.seas[1])
                               + 0.7::DOUBLE * (r.l + r.b)) - r.l)
                   + 0.9::DOUBLE * r.b,
               0.2::DOUBLE * (CAST(s.vals[r.rn + 1] AS DOUBLE)
                              - (0.3::DOUBLE
                                 * (CAST(s.vals[r.rn + 1] AS DOUBLE)
                                    - r.seas[1])
                                 + 0.7::DOUBLE * (r.l + r.b)))
                   + 0.8::DOUBLE * r.seas[1],
               r.seas[2:] || [0.2::DOUBLE * (CAST(s.vals[r.rn + 1] AS DOUBLE)
                              - (0.3::DOUBLE
                                 * (CAST(s.vals[r.rn + 1] AS DOUBLE)
                                    - r.seas[1])
                                 + 0.7::DOUBLE * (r.l + r.b)))
                   + 0.8::DOUBLE * r.seas[1]]
        -- IS NOT DISTINCT FROM: USING would drop a null series key
        -- that the Spark operator deliberately keeps (dropna=False)
        FROM r JOIN s ON r.event_type IS NOT DISTINCT FROM s.event_type
        WHERE r.rn < len(s.vals)
    )
    SELECT s.ids[r.rn] AS event_id, r.event_type,
           r.l AS level, r.b AS trend, r.sn AS seasonal
    FROM r JOIN s ON r.event_type IS NOT DISTINCT FROM s.event_type
"""


def dedup_scrub_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span removal over the corpus
    (operators.dedup.remove_duplicate_spans, 5-token windows): the
    cleaned text is md5'd so the full reconstruction — positions,
    coverage fan-out, token filter, re-join — must match the oracle's
    string-level replay exactly."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.remove_duplicate_spans(docs, n=5)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


SCRUB_SPANS_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id, i - 1 AS pos,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                     || ws[i+3] || ' ' || ws[i+4] AS gram
        FROM toks, LATERAL unnest(generate_series(1, len(ws) - 4)) AS t(i)
        WHERE len(ws) >= 5
    ), dup_grams AS (
        SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1
    ), covered AS (
        SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS idx
        FROM grams JOIN dup_grams USING (gram)
    ), cov_set AS (
        SELECT doc_id, list(idx) AS cov FROM covered GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(c.cov), 0) AS BIGINT) AS n_removed,
           -- coalesce: DuckDB's array_to_string returns NULL (not '')
           -- for an empty list, unlike Spark's array_join
           md5(coalesce(array_to_string(
               [t.ws[i] FOR i IN range(1, len(t.ws) + 1)
                IF NOT list_contains(coalesce(c.cov, []), i - 1)],
               ' '), '')) AS clean_md5
    FROM toks t LEFT JOIN cov_set c USING (doc_id)
"""


def ts_rsi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-delta Relative Strength Index per event_type series
    (operators.timeseries.rsi) — Flux relativeStrengthIndex, the
    momentum transform of its stdlib family. Exact-decimal gain/loss
    sums + one final division keep it hash-exact vs the oracle."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.rsi(events, n=14, series=["event_type"], tiebreak=["event_id"])
    return out.select("event_id", "event_type", "value", "rsi")


RSI_SQL = """
    WITH d AS (
        SELECT event_id, event_type, ts, value,
               CAST(value - lag(value) OVER w AS DECIMAL(18,6)) AS diff
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), g AS (
        -- CASE, not greatest(): DuckDB's greatest() on decimals
        -- returns DOUBLE (same trap as least() in CUSUM_SQL), which
        -- would break the exact-decimal window sums; null deltas stay
        -- null so cnt counts deltas
        SELECT *,
               CASE WHEN diff IS NULL THEN NULL
                    WHEN diff > 0 THEN diff
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS gain,
               CASE WHEN diff IS NULL THEN NULL
                    WHEN diff < 0 THEN -diff
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS loss
        FROM d
    ), s AS (
        SELECT event_id, event_type, value,
               CAST(sum(gain) OVER c AS DOUBLE) AS sg,
               CAST(sum(loss) OVER c AS DOUBLE) AS sl,
               count(gain) OVER c AS cnt
        FROM g
        WINDOW c AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, value,
           CASE WHEN cnt >= 14 AND sg + sl > 0
                THEN 100.0 * sg / (sg + sl) END AS rsi
    FROM s
"""


def ts_dema_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux doubleEMA(n: 9) per user: 2*EMA - EMA(EMA), alpha = 0.2
    (operators.timeseries.double_ema). r12: the tower runs as ONE
    2-state affine scan (closed-form matrix constants); the oracle
    replays the same pinned fold order, bitwise-verified."""
    from solar_logger_spark.operators import timeseries as T

    # scan input pruned to what the scan + final select need:
    # mapInPandas is opaque to Catalyst, so an unpruned frame
    # ships every column (incl. the fat props JSON) through the
    # rank exchange, Arrow, and the block checkpoint (guide 4.1)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return T.double_ema(
        events, n=9, series=["user_id"], tiebreak=["event_id"]
    ).select("event_id", "user_id", "dema")


# closed-form tower constants (alpha = 0.2 for n = 9), embedded via
# repr so both engines hold the identical doubles the Spark operator
# computes in Python (timeseries.double_ema/_ema_tower3)
_AL = 2.0 / (9 + 1)
_T = {
    "a": repr(1.0 - _AL),                 # 1-alpha
    "ab": repr(_AL * (1.0 - _AL)),        # alpha(1-alpha)
    "abb": repr(_AL * _AL * (1.0 - _AL)), # alpha^2(1-alpha)
    "c1": repr(_AL),
    "c2": repr(_AL * _AL),
    "c3": repr(_AL * _AL * _AL),
}

DEMA_SQL = _scan_sql.scan_query_sql(
    tag="dema_",
    base="SELECT user_id, ts, event_id, value FROM events",
    series=["user_id"],
    order="ts, event_id",
    d=2,
    maps={
        "a11": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['a']} END",
        "a12": "0.0",
        "a21": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['ab']} END",
        "a22": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['a']} END",
        "c1": f"CASE WHEN rn = 1 THEN value ELSE {_T['c1']} * value END",
        "c2": f"CASE WHEN rn = 1 THEN value ELSE {_T['c2']} * value END",
    },
    select="x.event_id, x.user_id, 2.0 * y.v1 - y.v2 AS dema",
)


def ts_tema_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux tripleEMA(n: 9) per user: 3*e1 - 3*e2 + e3 over the EMA
    tower (operators.timeseries.triple_ema). r12: one 3-state affine
    scan; fold-order-mirrored oracle, bitwise-verified."""
    from solar_logger_spark.operators import timeseries as T

    # scan input pruned to what the scan + final select need:
    # mapInPandas is opaque to Catalyst, so an unpruned frame
    # ships every column (incl. the fat props JSON) through the
    # rank exchange, Arrow, and the block checkpoint (guide 4.1)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return T.triple_ema(
        events, n=9, series=["user_id"], tiebreak=["event_id"]
    ).select("event_id", "user_id", "tema")


_TOWER3_MAPS = {
    "a11": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['a']} END",
    "a12": "0.0", "a13": "0.0",
    "a21": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['ab']} END",
    "a22": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['a']} END",
    "a23": "0.0",
    "a31": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['abb']} END",
    "a32": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['ab']} END",
    "a33": f"CASE WHEN rn = 1 THEN 0.0 ELSE {_T['a']} END",
    "c1": f"CASE WHEN rn = 1 THEN value ELSE {_T['c1']} * value END",
    "c2": f"CASE WHEN rn = 1 THEN value ELSE {_T['c2']} * value END",
    "c3": f"CASE WHEN rn = 1 THEN value ELSE {_T['c3']} * value END",
}

TEMA_SQL = _scan_sql.scan_query_sql(
    tag="tema_",
    base="SELECT user_id, ts, event_id, value FROM events",
    series=["user_id"],
    order="ts, event_id",
    d=3,
    maps=_TOWER3_MAPS,
    select="x.event_id, x.user_id, "
           "3.0 * y.v1 - 3.0 * y.v2 + y.v3 AS tema",
)


def ts_cmo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-delta Chande Momentum Oscillator per event_type series
    (operators.timeseries.cmo) — Flux chandeMomentumOscillator, the
    signed sibling of ts_rsi_events: 100*(sum_gain - sum_loss) /
    (sum_gain + sum_loss). Exact-decimal sums combined in decimal,
    cast once, one mul + one div mirrored verbatim in the oracle."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.cmo(events, n=14, series=["event_type"], tiebreak=["event_id"])
    return out.select("event_id", "event_type", "value", "cmo")


CMO_SQL = """
    WITH d AS (
        SELECT event_id, event_type, ts, value,
               CAST(value - lag(value) OVER w AS DECIMAL(18,6)) AS diff
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), g AS (
        SELECT *,
               CASE WHEN diff IS NULL THEN NULL
                    WHEN diff > 0 THEN diff
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS gain,
               CASE WHEN diff IS NULL THEN NULL
                    WHEN diff < 0 THEN -diff
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS loss
        FROM d
    ), s AS (
        SELECT event_id, event_type, value,
               CAST(sum(gain) OVER c - sum(loss) OVER c AS DOUBLE) AS num,
               CAST(sum(gain) OVER c + sum(loss) OVER c AS DOUBLE) AS den,
               count(gain) OVER c AS cnt
        FROM g
        WINDOW c AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, value,
           CASE WHEN cnt >= 14 AND den > 0
                THEN 100.0 * num / den END AS cmo
    FROM s
"""


def ts_kaufmans_er_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-delta Kaufman Efficiency Ratio per event_type series
    (operators.timeseries.kaufmans_er) — Flux kaufmansER:
    |net change| / path length over the trailing window, in [0, 1].
    Net and path are exact-decimal window sums (net = decimal sum of
    the window's deltas = value - value[t-n] exactly); one division."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    out = T.kaufmans_er(
        events, n=14, series=["event_type"], tiebreak=["event_id"]
    )
    return out.select("event_id", "event_type", "value", "er")


KAUFMANS_ER_SQL = """
    WITH d AS (
        SELECT event_id, event_type, ts, value,
               CAST(value - lag(value) OVER w AS DECIMAL(18,6)) AS diff
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), s AS (
        SELECT event_id, event_type, value,
               CAST(abs(sum(diff) OVER c) AS DOUBLE) AS net,
               CAST(sum(abs(diff)) OVER c AS DOUBLE) AS path,
               count(diff) OVER c AS cnt
        FROM d
        WINDOW c AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, value,
           CASE WHEN cnt >= 14 AND path > 0
                THEN net / path END AS er
    FROM s
"""


def ts_trix_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux tripleExponentialDerivative(n: 9) per user — TRIX, the
    1-lag percent change of the triple-smoothed EMA
    (operators.timeseries.trix). r12: the tower runs as ONE 3-state
    affine scan; the oracle replays the pinned fold order and mirrors
    ``100·(e3 − prev)/prev`` verbatim; null on each series head and
    on a zero previous e3. Bitwise-verified."""
    from solar_logger_spark.operators import timeseries as T

    # scan input pruned to what the scan + final select need:
    # mapInPandas is opaque to Catalyst, so an unpruned frame
    # ships every column (incl. the fat props JSON) through the
    # rank exchange, Arrow, and the block checkpoint (guide 4.1)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return T.trix(
        events, n=9, series=["user_id"], tiebreak=["event_id"]
    ).select("event_id", "user_id", "trix")


TRIX_SQL = "WITH " + _scan_sql.affine_scan_ctes(
    tag="trix_",
    base="SELECT user_id, ts, event_id, value FROM events",
    series=["user_id"],
    order="ts, event_id",
    d=3,
    maps=_TOWER3_MAPS,
) + """,
j AS (
    SELECT x.event_id, x.user_id, x.rn, y.v3 AS e3
    FROM trix_x x JOIN trix__y y
      ON x.rn = y.rn AND x.user_id IS NOT DISTINCT FROM y.user_id
)
SELECT event_id, user_id,
       CASE WHEN prev IS NOT NULL AND prev <> 0
            THEN 100.0 * (e3 - prev) / prev
       END AS trix
FROM (SELECT *, lag(e3) OVER (PARTITION BY user_id ORDER BY rn)
             AS prev
      FROM j)
"""


def ts_kama_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux kaufmansAMA(n: 10) per user — Kaufman's Adaptive Moving
    Average (operators.timeseries.kaufmans_ama): an EMA whose smoothing
    constant adapts per step to the trailing Efficiency Ratio. ER's
    direction/path sums are exact-decimal (the kaufmansER discipline).
    r12: the recursion y' = (1−sc)·y + sc·x runs as a segmented
    affine scan (warm-ups = identity maps emitting null, seed = the
    first full-window row's own value, flat windows use ER = 0) —
    the former per-row Python loop is gone; the oracle replays the
    pinned fold order, bitwise-verified."""
    from solar_logger_spark.operators import timeseries as T

    # scan input pruned to what the scan + final select need:
    # mapInPandas is opaque to Catalyst, so an unpruned frame
    # ships every column (incl. the fat props JSON) through the
    # rank exchange, Arrow, and the block checkpoint (guide 4.1)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return T.kaufmans_ama(
        events, n=10, series=["user_id"], tiebreak=["event_id"]
    ).select("event_id", "user_id", "kama")


_KAMA_BASE = """
    SELECT event_id, user_id, ts, value, t * t AS sc,
           count(t) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sqn
    FROM (
        SELECT event_id, user_id, ts, value,
               CASE WHEN cnt >= 10 THEN
                   (CASE WHEN path > 0 THEN net / path ELSE 0.0 END)
                   * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0
               END AS t
        FROM (
            SELECT event_id, user_id, ts, value,
                   CAST(abs(sum(diff) OVER c) AS DOUBLE) AS net,
                   CAST(sum(abs(diff)) OVER c AS DOUBLE) AS path,
                   count(diff) OVER c AS cnt
            FROM (
                SELECT event_id, user_id, ts, value,
                       CAST(value - lag(value) OVER w
                            AS DECIMAL(18,6)) AS diff
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            WINDOW c AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        )
    )
"""

KAMA_SQL = _scan_sql.scan_query_sql(
    tag="kama_",
    base=_KAMA_BASE,
    series=["user_id"],
    order="ts, event_id",
    d=1,
    maps={
        "a11": "CASE WHEN sc IS NULL THEN 1.0"
               " WHEN sqn = 1 THEN 0.0 ELSE 1.0 - sc END",
        "c1": "CASE WHEN sc IS NULL THEN 0.0"
              " WHEN sqn = 1 THEN value ELSE sc * value END",
    },
    select="x.event_id, x.user_id, "
           "CASE WHEN x.sc IS NOT NULL THEN y.v1 END AS kama",
)


def ts_covariance_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flux ``covariance(columns: [x, y], pearsonr:)`` over two series
    of the same measurement — the rank-paired SELF-JOIN alignment
    (the shape ``flux_correlation_click_view``'s bucket-sum alignment
    deliberately avoids): the r-th click pairs with the r-th view per
    user, sample covariance and Pearson r per user over the pairs.

    Both sides shuffle once on the join key (user_id, rn); the
    moments are EXACT DECIMAL sums (values cast to decimal(12,2),
    products exact decimal) cast to double once, and the remaining
    float expressions — ``(sxy − sx·sy/n)/(n−1)`` and the
    pearson quotient — are mirrored verbatim by the oracle, so every
    output hash-matches. Users with fewer than 2 pairs drop (sample
    covariance needs n ≥ 2)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    xd = F.col("value").cast("decimal(12,2)")

    def _side(et: str, name: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            events.filter(F.col("event_type") == et)
            .select("user_id", "ts", "event_id", xd.alias(name))
            .withColumn("rn", F.row_number().over(w))
            .select("user_id", "rn", name)
        )

    j = _side("click", "x").join(_side("view", "y"), ["user_id", "rn"])
    m = (
        j.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        )
        .filter(F.col("n_pairs") >= 2)
    )
    n = F.col("n_pairs").cast("double")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1.0))
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "user_id",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        cov.alias("cov_xy"),
        F.when(den > 0, num / den).alias("pearson_r"),
    )


COVARIANCE_SQL = """
    WITH x AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               CAST(value AS DECIMAL(12,2)) AS x
        FROM events WHERE event_type = 'click'
    ), y AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               CAST(value AS DECIMAL(12,2)) AS y
        FROM events WHERE event_type = 'view'
    ), m AS (
        SELECT x.user_id,
               count(*) AS n_pairs,
               CAST(sum(x.x) AS DOUBLE) AS sx,
               CAST(sum(y.y) AS DOUBLE) AS sy,
               CAST(sum(x.x * y.y) AS DOUBLE) AS sxy,
               CAST(sum(x.x * x.x) AS DOUBLE) AS sxx,
               CAST(sum(y.y * y.y) AS DOUBLE) AS syy
        FROM x JOIN y ON x.user_id = y.user_id AND x.rn = y.rn
        GROUP BY 1
        HAVING count(*) >= 2
    )
    SELECT user_id,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           (sxy - sx * sy / CAST(n_pairs AS DOUBLE))
               / (CAST(n_pairs AS DOUBLE) - 1.0) AS cov_xy,
           CASE WHEN sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy) > 0
                THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy))
           END AS pearson_r
    FROM m
"""


def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection per source shard: rank each
    source's documents by quality score (ties to lowest doc_id), admit
    documents while the running token total stays within a 2,000-token
    per-source budget — the selection pass that assembles a fixed-size
    training mix from quality-ranked candidates (the budgeted
    counterpart of corpus_mix_weights). Integer running sums and the
    bit-identical quality ordering make the cut deterministic
    cross-engine; one partitioned window, no global sort."""
    from pyspark.sql import Window

    from solar_logger_spark.operators import text as TXT

    docs = load_table(spark, sf_dir, "documents")
    scored = TXT.quality_score(docs).select(
        "doc_id", "n_tokens", "quality_score"
    )
    j = docs.select("doc_id", "source").join(scored, "doc_id")
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return j.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality_score",
        cum.cast("long").alias("cum_tokens"),
        (cum <= 2000).alias("selected"),
    )


TOKEN_BUDGET_SQL = f"""
    WITH base AS (
        SELECT doc_id, source,
               {_QUALITY_BASE_COLS_SQL}
        FROM documents
    ), scored AS (
        SELECT doc_id, source, n_tokens,
               {_QUALITY_SCORE_EXPR_SQL} AS quality_score
        FROM base
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           quality_score,
           CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           sum(n_tokens) OVER w <= 2000 AS selected
    FROM scored
    WINDOW w AS (PARTITION BY source ORDER BY quality_score DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def dedup_editdistance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by character edit distance — the
    fine-grained complement to Jaccard/MinHash for typo-level
    duplicates. All-JVM: candidate blocking is an equi-join, and
    verification is Spark's thresholded ``levenshtein`` (early-exit at
    max_dist). method="band" is the measured winner for THIS corpus
    shape (50-word vocabulary defeats gram-rarity filtering — see the
    operator docstring's regime analysis and SCALING.md); the edjoin
    prefix-filter path is the natural-text scale configuration, and
    document-scale near-dup at 100 TB belongs to MinHash-LSH either
    way."""
    docs = load_table(spark, sf_dir, "documents")
    # max_dist=8: the corpus' true near-dups are 1-2 word substitutions
    # (all 6 pairs sit at dist <= 8); the thresholded DP costs O(d*n)
    # per candidate, so halving d halves the verification bill for the
    # same result set.
    # dense_band_cap=128 (r10): bands above 128 members switch to
    # text-sorted neighborhood pairing (O(n*64) per band) instead of
    # all-pairs — the measured sf1 quadratic tail (63.6x decade ratio,
    # max band 791) turns linear. EXACT at every oracle/bench scale:
    # the largest (lang, length/8) band at sf0.1 holds 81 members, so
    # the cap never engages below sf1 and the pinned hash is the full
    # pair set; above it the result is the declared SNM-bounded subset
    # (operator docstring), with MinHash-LSH as the exhaustive route.
    return dedup.editdistance_pairs(
        docs, id_col="doc_id", text_col="text", block_col="lang",
        max_dist=8, method="band", dense_band_cap=128,
        dense_band_window=64,
    )


DEDUP_EDITDISTANCE_SQL = """
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM documents a JOIN documents b
      -- IS NOT DISTINCT FROM mirrors the operator's eqNullSafe block
      -- keys (NULL-lang docs form their own block, they are not dropped)
      ON a.lang IS NOT DISTINCT FROM b.lang AND a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 8
    WHERE levenshtein(a.text, b.text) <= 8
"""


# Calibration subset for the approx-profile self-check: one column per
# cardinality decade (keys ~n, dates ~10^3, enum ~10^1) so the HLL++
# accuracy contract is exercised across the range the sketch must
# cover, while the exact-distinct reference scan stays column-pruned
# and 4/11ths of the full Expand (the full exact multi-distinct is the
# separate profile_columns_exact audit query).
_PROFILE_CAL_COLS = ["l_orderkey", "l_partkey", "l_shipdate", "l_linenumber"]


def profile_columns_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of every lineitem column in the SCALE-SAFE
    mode: non-null count, null count, numeric min/max from ONE fused
    hash-aggregate scan, with distinct cardinalities from HLL++
    sketches riding the same scan — the shape a scheduled 100 TB
    profiling job runs (no multi-distinct Expand, no second full
    scan).

    The sketch estimates are engine-specific, so (same accuracy-
    contract pattern as sketch_distinct_users_daily / GK quantiles)
    the declared output replaces the raw estimate with
    ``n_distinct_ok``: for a cardinality-stratified calibration subset
    of columns, whether the estimate lands within 15% of the exact
    distinct count (computed by a column-pruned 4-column reference
    agg); NULL for uncalibrated columns. A broken sketch or fusion
    flips the boolean and fails the driver hash compare. The full
    exact audit is profile_columns_exact."""
    from solar_logger_spark.operators.profile import profile_columns

    # measured r13: spreading this scan LOSES (1.52 -> 2.17 s) — the
    # fused one-pass HLL aggregate is cheaper single-task than paying
    # an exchange plus 32-way sketch merges; left on the scan layout
    li = load_table(spark, sf_dir, "lineitem")
    prof = profile_columns(li, exact_distinct=False)
    cal = li.agg(
        *[
            F.count_distinct(F.col(c)).alias(f"_d_{c}")
            for c in _PROFILE_CAL_COLS
        ]
    )
    cal_rows = cal.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"_d_{c}").cast("long").alias("_exact"),
                    )
                    for c in _PROFILE_CAL_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")
    return prof.join(F.broadcast(cal_rows), "column", "left").select(
        "column",
        "n_nonnull",
        "n_null",
        "min_value",
        "max_value",
        F.when(
            F.col("_exact").isNotNull(),
            F.abs(F.col("n_distinct") - F.col("_exact"))
            / F.col("_exact").cast("double")
            <= 0.15,
        ).alias("n_distinct_ok"),
    )


def profile_columns_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-distinct AUDIT variant of the lineitem profile: same
    plain metrics plus exact per-column distinct counts. Pays the
    multi-distinct Expand scan on purpose — run on demand (schema-
    drift forensics), not on the 100 TB schedule; the scheduled mode
    is profile_columns_lineitem's one-scan sketch shape."""
    from solar_logger_spark.operators.profile import profile_columns
    from solar_logger_spark.operators.spread import spread_small

    # spread before the multi-distinct Expand: over a single-partition
    # scan the |cols|-fold row duplication and both aggregates ran in
    # ONE task (guide §2.5); aggregates are partition-invariant
    li = spread_small(load_table(spark, sf_dir, "lineitem"))
    return profile_columns(li, exact_distinct=True)


def _profile_oracle_sql(exact_distinct: bool) -> str:
    numeric = {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    }
    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ]
    parts = []
    for c in cols:
        mn = f"CAST(min({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        if exact_distinct:
            dist = f"count(DISTINCT {c}) AS n_distinct, {mn} AS min_value, {mx} AS max_value"
        else:
            ok = "TRUE" if c in _PROFILE_CAL_COLS else "CAST(NULL AS BOOLEAN)"
            dist = f"{mn} AS min_value, {mx} AS max_value, {ok} AS n_distinct_ok"
        parts.append(
            f"SELECT '{c}' AS column, count({c}) AS n_nonnull,"
            f" count(*) - count({c}) AS n_null,"
            f" {dist} FROM lineitem"
        )
    return " UNION ALL ".join(parts)


PROFILE_COLUMNS_SQL = _profile_oracle_sql(exact_distinct=False)
PROFILE_COLUMNS_EXACT_SQL = _profile_oracle_sql(exact_distinct=True)


def ts_rolling_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust despiking: centered 5-row rolling median per user and a
    spike flag at |value - median| > 40."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    return T.rolling_median_despike(
        events, k=2, threshold=40.0, series=["user_id"],
        tiebreak=["event_id"],
    ).select("event_id", "user_id", "value", "rolling_med", "is_spike")


ROLLING_MEDIAN_SQL = """
    WITH w AS (
        SELECT event_id, user_id, value,
               list_sort([x FOR x IN list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                   IF x IS NOT NULL]) AS arr
        FROM events
    )
    SELECT event_id, user_id, value,
           CASE WHEN len(arr) = 0 THEN NULL
                WHEN len(arr) % 2 = 1 THEN arr[(len(arr)+1)//2]
                ELSE (arr[len(arr)//2] + arr[len(arr)//2 + 1]) / 2.0
           END AS rolling_med,
           -- lateral alias reuse: one copy of the median formula
           abs(value - rolling_med) > 40.0 AS is_spike
    FROM w
"""


def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key for events over (user bucket, time bucket):
    the multi-dim clustering pass that makes one file layout prunable
    by BOTH user and time predicates. Pure JVM bit interleaving plus
    one range exchange (the write-side shuffle a layout pass needs
    anyway)."""
    from solar_logger_spark.durations import epoch_us
    from solar_logger_spark.operators.layout import zorder_repartition

    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(65536)).alias("ubucket"),
        F.pmod(
            F.floor(epoch_us("ts") / F.lit(60_000_000)), F.lit(65536)
        ).alias("tbucket"),
    )
    return zorder_repartition(keyed, ["ubucket", "tbucket"], bits=16)


ZORDER_SQL = """
    SELECT event_id, ubucket, tbucket,
           CAST(list_sum([
               ((ubucket >> i) & 1) << (2 * i)
               FOR i IN range(16)
           ]) + list_sum([
               ((tbucket >> i) & 1) << (2 * i + 1)
               FOR i IN range(16)
           ]) AS BIGINT) AS zval
    FROM (
        SELECT event_id,
               user_id % 65536 AS ubucket,
               CAST(floor(epoch(ts) / 60) AS BIGINT) % 65536 AS tbucket
        FROM events
    )
"""


def ab_welch_value_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample statistic between click and view event values —
    the A/B-experiment readout (works at any scale: one conditional
    hash aggregate, map-side partials, no shuffle of raw rows).

    Cross-engine determinism: per-group moments are exact DECIMAL(18,6)
    sums cast to double ONCE, after which mean/variance/t are pure IEEE
    double formulas mirrored verbatim by the oracle (same association
    order) — the ts_anomaly_zscore recipe.

    Numerical-accuracy caveat: the textbook (n*sxx - sx^2) variance
    form suffers catastrophic cancellation when mean >> stddev at
    large n — both engines compute the SAME cancelled bits, so the
    hash compare stays green, but if statistical accuracy at
    production scale ever matters, switch both sides to a centered
    second pass (sum((x-mean)^2) over the exact-decimal values)."""
    events = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    is_a = F.col("event_type") == "click"
    is_b = F.col("event_type") == "view"
    m = (
        events.filter(F.col("event_type").isin("click", "view"))
        .agg(
            F.count(F.when(is_a, 1)).cast("double").alias("n_a"),
            F.count(F.when(is_b, 1)).cast("double").alias("n_b"),
            F.sum(F.when(is_a, dec)).cast("double").alias("sx_a"),
            F.sum(F.when(is_b, dec)).cast("double").alias("sx_b"),
            F.sum(F.when(is_a, dec * dec)).cast("double").alias("sxx_a"),
            F.sum(F.when(is_b, dec * dec)).cast("double").alias("sxx_b"),
        )
    )
    mean_a = F.col("sx_a") / F.col("n_a")
    mean_b = F.col("sx_b") / F.col("n_b")
    var_a = (F.col("n_a") * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a")) / (
        F.col("n_a") * (F.col("n_a") - 1)
    )
    var_b = (F.col("n_b") * F.col("sxx_b") - F.col("sx_b") * F.col("sx_b")) / (
        F.col("n_b") * (F.col("n_b") - 1)
    )
    return m.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
        (
            (mean_a - mean_b)
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
        ).alias("t_stat"),
    )


AB_WELCH_SQL = """
    WITH m AS (
        SELECT CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                    AS DOUBLE) AS n_a,
               CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
                    AS DOUBLE) AS n_b,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN CAST(value AS DECIMAL(18,6)) END)
                    AS DOUBLE) AS sx_a,
               CAST(sum(CASE WHEN event_type = 'view'
                             THEN CAST(value AS DECIMAL(18,6)) END)
                    AS DOUBLE) AS sx_b,
               -- DuckDB's wide-decimal -> DOUBLE cast is not correctly
               -- rounded (one-ulp error at scale 12); the VARCHAR hop
               -- is, and matches Spark's BigDecimal.doubleValue exactly
               CAST(CAST(sum(CASE WHEN event_type = 'click'
                             THEN CAST(value AS DECIMAL(18,6))
                                  * CAST(value AS DECIMAL(18,6)) END)
                    AS VARCHAR) AS DOUBLE) AS sxx_a,
               CAST(CAST(sum(CASE WHEN event_type = 'view'
                             THEN CAST(value AS DECIMAL(18,6))
                                  * CAST(value AS DECIMAL(18,6)) END)
                    AS VARCHAR) AS DOUBLE) AS sxx_b
        FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           sx_a / n_a AS mean_a, sx_b / n_b AS mean_b,
           (n_a * sxx_a - sx_a * sx_a) / (n_a * (n_a - 1)) AS var_a,
           (n_b * sxx_b - sx_b * sx_b) / (n_b * (n_b - 1)) AS var_b,
           (sx_a / n_a - sx_b / n_b)
           / sqrt((n_a * sxx_a - sx_a * sx_a) / (n_a * (n_a - 1)) / n_a
                  + (n_b * sxx_b - sx_b * sx_b) / (n_b * (n_b - 1)) / n_b)
               AS t_stat
    FROM m
"""


def dedup_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: pairs where the smaller
    shingle set is >= 80% inside the other — partial-copy detection
    that symmetric Jaccard dilutes when document sizes differ.

    max_shingle_df=64 (r10): the stop-shingle bound — shingles shared
    by more than 64 docs leave the vocabulary before pairing, the d²
    pair-blow-up guard. On this corpus the bound is INERT below sf1
    (max word-3-gram df: 7 at sf0.01, 25 at sf0.1 — measured), so
    every oracle/bench result is the unbounded exact answer and the
    pinned hash stands; at the sf1 probe, where resampling pushes the
    99th-percentile df to 121 and df>64 shingles carry 99.98% of the
    quadratic pair work, it holds the decade growth near-linear. The
    oracle mirrors the bound (df-filtered shingle CTE), so the two
    engines agree at every scale including past the cut-in."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, threshold=0.8, max_shingle_df=64)


# The containment oracle's df-bounded twin of _SHINGLE_PAIR_CTES_SQL:
# identical shingling, with stop-shingles (df > 64) dropped BEFORE
# sizes/pairs — mirroring _shingle_pair_counts' filter placement, so
# set sizes shrink with the vocabulary exactly like the Spark side.
_SHINGLE_PAIR_CTES_DF64_SQL = """words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
        SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               for i in range(1, greatest(len(ws) - 1, 1))]) AS s
        FROM words
    ),
    sd0 AS (SELECT DISTINCT doc_id, s FROM sh),
    rare AS (SELECT s FROM sd0 GROUP BY s HAVING count(*) <= 64),
    sd AS (SELECT sd0.doc_id, sd0.s FROM sd0 JOIN rare USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sd GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM sd a JOIN sd b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


DEDUP_CONTAINMENT_SQL = f"""
    WITH {_SHINGLE_PAIR_CTES_DF64_SQL}
    SELECT a_id, b_id,
           greatest(CAST(inter AS DOUBLE) / sa.n,
                    CAST(inter AS DOUBLE) / sb.n) AS containment,
           CAST(inter AS DOUBLE) / sa.n AS c_a_in_b,
           CAST(inter AS DOUBLE) / sb.n AS c_b_in_a
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE greatest(CAST(inter AS DOUBLE) / sa.n,
                   CAST(inter AS DOUBLE) / sb.n) >= 0.8
"""


def sketch_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch with a deterministic self-check — the
    quantile counterpart of sketch_distinct_users_daily's HLL pattern.

    Spark's ``percentile_approx`` (Greenwald-Khanna sketch: mergeable
    map-side summaries, O(1/eps log n) space — the 100 TB path where
    exact percentiles would sort the world) answers p50/p95/p99 per
    event_type at accuracy 1000 (eps = 1e-3). The sketch VALUES are
    partition-order dependent, so the query outputs the exact
    percentiles (oracle-matched float equality, same as
    value_percentiles) plus per-quantile booleans asserting the GK
    rank-error guarantee: the returned value's tie-aware rank interval
    [count(<v)+1, count(<=v)] must intersect [(p-eps)n - 1, (p+eps)n
    + 1] — the ±1 absorbs the implementation's floor/ceil rank
    convention (measured: GK returns rank 989 where the idealized
    bound floor is 989.018). The booleans are deterministically TRUE
    whenever the sketch honors its bound — a broken sketch flips them
    and fails the driver's hash compare loudly."""
    eps = 1e-3
    events = load_table(spark, sf_dir, "events")
    # the sketch aggregate is separate from the exact-percentile one:
    # referencing one combined aggregate from two consumers would make
    # Catalyst execute the (expensive, full-value-buffering) exact
    # percentiles twice — subplans are not deduped, only exchanges
    sketch = events.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)),
            F.lit(int(1 / eps)),
        ).alias("av"),
    )
    agg = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.count("value").alias("n"),
    )
    j = events.select("event_type", "value").join(
        F.broadcast(sketch), "event_type"
    )
    checks = j.groupBy("event_type").agg(
        *[
            F.sum(
                F.when(F.col("value") < F.col("av")[i], 1).otherwise(0)
            ).alias(f"_lt{i}")
            for i in range(3)
        ],
        *[
            F.sum(
                F.when(F.col("value") <= F.col("av")[i], 1).otherwise(0)
            ).alias(f"_le{i}")
            for i in range(3)
        ],
    )
    out = agg.join(checks, "event_type")
    flags = []
    for i, p in enumerate((0.5, 0.95, 0.99)):
        lo = (F.lit(p) - F.lit(eps)) * F.col("n") - 1
        hi = (F.lit(p) + F.lit(eps)) * F.col("n") + 1
        flags.append(
            (
                (F.col(f"_lt{i}") + 1 <= hi) & (F.col(f"_le{i}") >= lo)
            ).alias(f"q{int(p * 100)}_ok")
        )
    return out.select("event_type", "n", "p50", "p95", "p99", *flags)


SKETCH_QUANTILES_SQL = """
    SELECT event_type, count(value) AS n,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99,
           TRUE AS q50_ok, TRUE AS q95_ok, TRUE AS q99_ok
    FROM events GROUP BY event_type
"""


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters (MinHash-LSH pairs at Jaccard >= 0.5 ->
    connected components) keeping the HIGHEST-QUALITY member per
    cluster instead of the minimum id — the production keep rule
    (clusters usually hold one clean copy and N degraded ones).
    Deterministic tiebreak (quality desc, doc_id asc)."""
    from solar_logger_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    scored = text.quality_score(docs).select("doc_id", "quality_score")
    return graph.dedup_best_representatives(pairs, scored)


DEDUP_KEEP_BEST_SQL = f"""
    WITH RECURSIVE
    base AS (
        SELECT doc_id, {_QUALITY_BASE_COLS_SQL}
        FROM documents
    ),
    q AS (
        SELECT doc_id, {_QUALITY_SCORE_EXPR_SQL} AS quality_score
        FROM base
    ),
    {_SHINGLE_PAIR_CTES_SQL},
    jpairs AS (
        SELECT a_id, b_id FROM pairs
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE CAST(inter AS DOUBLE)
              / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM jpairs
        UNION ALL
        SELECT b_id, a_id FROM jpairs
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
    ),
    comp AS (
        SELECT node AS doc_id, min(label) AS component
        FROM reach GROUP BY node
    )
    SELECT c.doc_id, c.component,
           row_number() OVER (
               PARTITION BY c.component
               ORDER BY q.quality_score DESC, c.doc_id ASC
           ) = 1 AS keep
    FROM comp c JOIN q USING (doc_id)
"""


def dedup_scrub_benchmark_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination: delete every corpus token
    covered by an 8-gram that appears in the (hash-sampled) benchmark
    set — the surgical edit counterpart of the doc-level
    dedup_benchmark_contamination flag. Cleaned text is md5'd so the
    full reconstruction must match the oracle's string-level replay."""
    from solar_logger_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    bench = sampling.sample_fraction(docs, 0.1, ["doc_id"], seed=7)
    out = dedup.remove_benchmark_spans(docs, bench, n=8)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


SCRUB_BENCH_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bench AS (
        SELECT doc_id FROM documents
        WHERE CAST(('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR) || chr(31) || '7'), 1, 15))
              AS BIGINT) % 1000000 < 100000
    ), grams AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(ws[i:i+7], ' ') AS gram
        FROM toks, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ), bad_grams AS (
        SELECT DISTINCT g.gram
        FROM grams g JOIN bench b USING (doc_id)
    ), covered AS (
        SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS idx
        FROM grams JOIN bad_grams USING (gram)
    ), cov_set AS (
        SELECT doc_id, list(idx) AS cov FROM covered GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(c.cov), 0) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(
               [t.ws[i] FOR i IN range(1, len(t.ws) + 1)
                IF NOT list_contains(coalesce(c.cov, []), i - 1)],
               ' '), '')) AS clean_md5
    FROM toks t LEFT JOIN cov_set c USING (doc_id)
"""


def ts_seasonal_decompose_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition per event_type series:
    trend (centered 25-row moving average), hour-of-day seasonal
    component (hourly mean minus grand mean — computed from exact
    DECIMAL(18,6) sums so the float is engine-identical), and the
    residual value - trend - seasonal. The classical-decomposition
    variant with period means over RAW values, which keeps every
    component a deterministic formula over exact moments (residual-
    based seasonal means would average arbitrary doubles, whose
    cross-engine sum order is not reproducible).

    Plan: one analytic window per series (same exchange as the moving
    average) + one tiny (series, hour) aggregate + one series-level
    aggregate, both broadcast back — no extra shuffle of the events."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-12, 12)
    )
    dec = F.col("value").cast("decimal(18,6)")
    hour = F.hour("ts")
    # trend from exact decimal window sums: a raw-double windowed avg
    # differs from DuckDB's at ~1 ulp on centered frames (measured
    # 677/3000 rows on probe data) — accumulation order is not part of
    # the SQL contract, exact moments are
    base = events.select(
        "event_id", "ts", "event_type", "value", hour.alias("hod")
    ).withColumn(
        "trend",
        F.sum(dec).over(w).cast("double")
        / F.count("value").over(w).cast("double"),
    )
    hourly = base.groupBy("event_type", "hod").agg(
        (F.sum(dec).cast("double") / F.count("value")).alias("_hmean")
    )
    grand = base.groupBy("event_type").agg(
        (F.sum(dec).cast("double") / F.count("value")).alias("_gmean")
    )
    out = base.join(F.broadcast(hourly), ["event_type", "hod"]).join(
        F.broadcast(grand), "event_type"
    )
    seasonal = F.col("_hmean") - F.col("_gmean")
    return out.select(
        "event_id",
        "event_type",
        "value",
        "trend",
        seasonal.alias("seasonal"),
        (F.col("value") - F.col("trend") - seasonal).alias("resid"),
    )


SEASONAL_DECOMPOSE_SQL = """
    WITH base AS (
        SELECT event_id, ts, event_type, value,
               CAST(extract(hour FROM ts) AS INT) AS hod,
               CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                   / CAST(count(value) OVER w AS DOUBLE) AS trend
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), hourly AS (
        SELECT event_type, hod,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / count(value) AS hmean
        FROM base GROUP BY 1, 2
    ), grand AS (
        SELECT event_type,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / count(value) AS gmean
        FROM base GROUP BY 1
    )
    SELECT b.event_id, b.event_type, b.value, b.trend,
           h.hmean - g.gmean AS seasonal,
           b.value - b.trend - (h.hmean - g.gmean) AS resid
    FROM base b
    JOIN hourly h ON h.event_type = b.event_type AND h.hod = b.hod
    JOIN grand g ON g.event_type = b.event_type
"""


# -- C4/RefinedWeb-style cleaning --------------------------------------------

# The synthetic corpus has no newlines or punctuation (single-line
# docs), so the declared boilerplate query STAGES a lined document
# deterministically from each doc's own words — 10-word lines, a
# terminal '.' on every third line, plus three appended boilerplate/
# short lines — and then runs the real operator over it. The staging
# is test scaffolding reproduced verbatim by the oracle; the operator
# itself (solar_logger_spark/operators/cleaning.py) is generic.
_BOILER_LINES = (
    "please enable javascript to continue.",  # blacklist rule
    "home about contact",                     # terminal-punct rule
    "ok.",                                    # min-words rule
)


def text_clean_boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 boilerplate-line scrub over staged multi-line documents:
    keep lines with >= 3 words AND terminal punctuation AND no
    blacklisted phrase; doc survives with >= 3 kept lines. All JVM
    higher-order array ops — map-only at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_last = F.floor((F.size(toks) - F.lit(1)) / F.lit(10)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_last),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            F.when(i % 3 == F.lit(0), F.lit(".")).otherwise(F.lit("")),
        ),
    )
    lined = F.array_join(
        F.concat(lines, F.array(*[F.lit(b) for b in _BOILER_LINES])),
        "\n",
    )
    staged = docs.select("doc_id", lined.alias("text"))
    return cleaning.clean_boilerplate_lines(staged)


CLEAN_BOILERPLATE_SQL = """
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), lined AS (
        SELECT doc_id,
               list_concat(
                   [array_to_string(list_slice(w, i*10 + 1, i*10 + 10), ' ')
                        || CASE WHEN i % 3 = 0 THEN '.' ELSE '' END
                    for i in range(0, (len(w) - 1) // 10 + 1)],
                   ['please enable javascript to continue.',
                    'home about contact', 'ok.']
               ) AS lines
        FROM ws
    ), cleaned AS (
        SELECT doc_id, lines,
               list_filter(lines, l ->
                   len(list_filter(string_split(l, ' '), t -> t != '')) >= 3
                   AND right(l, 1) IN ('.', '!', '?', '"', chr(39))
                   AND NOT contains(lower(l), 'javascript')
                   AND NOT contains(lower(l), 'lorem ipsum')
                   AND NOT contains(lower(l), '{')
               ) AS kept
        FROM lined
    )
    SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_lines_kept,
           array_to_string(kept, chr(10)) AS clean_text,
           len(kept) >= 3 AS doc_kept
    FROM cleaned
"""


_URL_BLOCKED_HOSTS = ("src3.example.com", "src7.example.com")


def corpus_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup + domain blocklist — the first (cheapest) pass
    of a crawl-corpus pipeline. The corpus carries no URL column, so
    the query derives one deterministically from (source, n_chars)
    with four raw variants per group (www/scheme/case/query/fragment
    differences); normalization must collapse them to one canonical
    key. One hash aggregate on the canonical URL — scales as exact
    dedup does."""
    docs = load_table(spark, sf_dir, "documents")
    pk = (F.col("n_chars") % 37).cast("string")
    m = F.col("doc_id") % 4
    raw = (
        F.when(m == 0, F.concat(
            F.lit("https://www."), F.col("source"),
            F.lit(".example.com/docs/"), pk, F.lit("/")))
        .when(m == 1, F.concat(
            F.lit("http://"), F.col("source"),
            F.lit(".example.com/docs/"), pk, F.lit("?utm_source=feed")))
        .when(m == 2, F.concat(
            F.lit("https://"), F.upper(F.col("source")),
            F.lit(".EXAMPLE.com/docs/"), pk, F.lit("#frag")))
        .otherwise(F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/docs/"), pk,
            F.lit("?id=1&utm_campaign=x")))
    )
    withu = docs.select("doc_id", raw.alias("url"))
    allowed = cleaning.url_blocklist_filter(
        withu, "url", _URL_BLOCKED_HOSTS
    )
    return cleaning.url_dedup(allowed, "url")


CORPUS_URL_DEDUP_SQL = """
    WITH u AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://www.' || source
                      || '.example.com/docs/' || CAST(n_chars % 37 AS VARCHAR)
                      || '/'
                 WHEN 1 THEN 'http://' || source
                      || '.example.com/docs/' || CAST(n_chars % 37 AS VARCHAR)
                      || '?utm_source=feed'
                 WHEN 2 THEN 'https://' || upper(source)
                      || '.EXAMPLE.com/docs/' || CAST(n_chars % 37 AS VARCHAR)
                      || '#frag'
                 ELSE 'https://' || source
                      || '.example.com/docs/' || CAST(n_chars % 37 AS VARCHAR)
                      || '?id=1&utm_campaign=x'
               END AS url
        FROM documents
    ), canon AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   lower(url), '^https?://', ''), '^www\\.', ''),
                   '[?#].*$', ''), '/$', '') AS canonical_url
        FROM u
    )
    SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM canon
    WHERE regexp_extract(canonical_url, '^[^/]+')
          NOT IN ('src3.example.com', 'src7.example.com')
    GROUP BY canonical_url
"""


def text_lang_confidence_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level language-confidence audit: marker-hit evidence,
    argmax language, confidence (top/total — one IEEE-exact int/int
    division), and the keep decision (drop only when CONFIDENTLY a
    different language than declared: >= 3 hits, confidence >= 0.8,
    prediction != declared). Row-stable output (one row per doc, kept
    flag) so the filter semantics hash-compare exactly."""
    from solar_logger_spark.operators.spread import spread_small

    # map-only regex marker counting over a single-file scan = one
    # task; spread first (per-row math — partition-invariant)
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    scored = cleaning.lang_confidence(docs)
    keep = (
        (F.col("lang_hits_total") < F.lit(3))
        | (F.col("lang_confidence") < F.lit(0.8))
        | F.col("pred_lang").eqNullSafe(F.col("lang"))
    )
    return scored.select(
        "doc_id", "lang", "pred_lang", "lang_hits_total",
        "lang_confidence", keep.alias("kept"),
    )


def _lang_conf_oracle_sql() -> str:
    """Composes the shared _lang_sql_parts fragments — no second copy
    of the hits/argmax/keep SQL lives here."""
    p = _LANG_SQL
    return f"""
        WITH h AS (SELECT doc_id, lang, {p['hit_cols']} FROM documents),
        t AS (
            SELECT doc_id, lang, {p['total']} AS total, {p['top']} AS top,
                   {p['case']} AS pred_lang
            FROM h
        )
        SELECT doc_id, lang, pred_lang,
               CAST(total AS BIGINT) AS lang_hits_total,
               CASE WHEN total > 0
                    THEN CAST(top AS DOUBLE) / CAST(total AS DOUBLE)
               END AS lang_confidence,
               (total < 3
                OR CAST(top AS DOUBLE) / CAST(total AS DOUBLE) < 0.8
                OR pred_lang IS NOT DISTINCT FROM lang) AS kept
        FROM t
    """


LANG_CONFIDENCE_SQL = _lang_conf_oracle_sql()


# -- sampling / splits / corpus governance -----------------------------------

def corpus_mix_rate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source Bernoulli sample at per-source RATES
    (sampling.stratified_sample_rates) — the corpus-mixing primitive,
    complementing the existing quota query (sample_stratified_docs)
    and flat-rate query (sample_hash_fraction). Rates here: src0
    downsampled to 25%, src1 dropped, src2 kept whole, everything
    else 50%. Shuffle-free map-only scan at any corpus size."""
    from solar_logger_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_sample_rates(
        docs,
        {"src0": 0.25, "src1": 0.0, "src2": 1.0},
        stratum_col="source",
        key_cols=["doc_id"],
        seed=11,
        default=0.5,
    )
    return out.select(
        "doc_id", "source",
        sampling.hash_bucket(["doc_id"], seed=11).cast("long").alias("bucket"),
    )


STRATIFIED_RATE_SAMPLE_SQL = """
    WITH b AS (
        SELECT doc_id, source,
               CAST(('0x' || substring(
                   md5(CAST(doc_id AS VARCHAR) || chr(31) || '11'), 1, 15))
               AS BIGINT) % 1000000 AS bucket
        FROM documents
    )
    SELECT doc_id, source, bucket
    FROM b
    WHERE bucket < CASE source
                     WHEN 'src0' THEN 250000
                     WHEN 'src1' THEN 0
                     WHEN 'src2' THEN 1000000
                     ELSE 500000
                   END
"""


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the 10% of docs with doc_id % 10 = 9
    play the incoming crawl delivery, the rest the existing corpus;
    bipartite MinHash-LSH candidates (batch x index only — the index
    never pairs with itself) verified by exact Jaccard at >= 0.5.
    Oracle validity is the same argument as dedup_minhash_lsh_docs:
    the (64, 32) collision curve is ~1.0 at the corpus' similarity
    gap, and verification is exact, so LSH output equals the exact
    cross-side pair set."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == F.lit(9)
    # r12: artifacts are PER-DOC (a doc's shingles/signature/buckets do
    # not depend on which side it lands on), so build them ONCE over
    # the full corpus and split by the id predicate afterwards —
    # one hashed-shingle materialization and one signature aggregation
    # (ReuseExchange-shared by both sides) instead of two disjoint
    # pipelines. Identical output to incremental_lsh_pairs on the two
    # filtered frames.
    sh, bk = dedup.index_artifacts(docs)
    return dedup.incremental_pairs_from_artifacts(
        sh.filter(~is_batch),
        bk.filter(~is_batch),
        sh.filter(is_batch),
        bk.filter(is_batch),
        threshold=0.5,
    )


DEDUP_INCREMENTAL_SQL = f"""
    WITH {_SHINGLE_PAIR_CTES_SQL}
    SELECT CASE WHEN a_id % 10 = 9 THEN a_id ELSE b_id END AS batch_id,
           CASE WHEN a_id % 10 = 9 THEN b_id ELSE a_id END AS index_id,
           CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
               AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
      AND ((a_id % 10 = 9) != (b_id % 10 = 9))
"""


def dedup_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication report: near-dup pairs (exact n-gram
    Jaccard >= 0.5) rolled up by canonical source pair — the audit
    that tells you WHERE duplication comes from (within one feed vs
    leaking between feeds, e.g. a benchmark mirrored into a crawl).
    Inherits the inverted-index pair join; the rollup is a tiny hash
    agg on a |sources|^2-bounded key."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("a_id"),
                       F.col("source").alias("sa")), "a_id")
        .join(
            src.select(F.col("doc_id").alias("b_id"),
                       F.col("source").alias("sb")), "b_id")
    )
    return (
        labeled.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


DEDUP_LEAKAGE_SQL = f"""
    WITH {_SHINGLE_PAIR_CTES_SQL},
    jp AS (
        SELECT a_id, b_id,
               CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
                   AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
              >= 0.5
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           max(jaccard) AS max_jaccard
    FROM jp
    JOIN documents da ON da.doc_id = a_id
    JOIN documents db ON db.doc_id = b_id
    GROUP BY 1, 2
"""


def _quality_binned(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bin) with bin = floor(quality_score * 10) —
    the one Spark copy of the decile binning shared by the histogram
    and drift queries (the SQL twins likewise share
    _QUALITY_BASE_COLS_SQL / _QUALITY_SCORE_EXPR_SQL)."""
    scored = text.quality_score(docs).select("doc_id", "quality_score")
    return docs.select("doc_id", "source").join(scored, "doc_id").select(
        "doc_id",
        "source",
        F.floor(F.col("quality_score") * 10).cast("int").alias("bin"),
    )


def corpus_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score histogram (decile-width bins): the
    distribution audit behind threshold choices — a source whose mass
    sits below the quality cutoff is about to vanish from the corpus,
    and this is the query that shows it before it happens. One hash
    agg on a (sources x 11)-bounded key."""
    docs = load_table(spark, sf_dir, "documents")
    return _quality_binned(docs).groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


QUALITY_HISTOGRAM_SQL = f"""
    WITH base AS (
        SELECT doc_id, source,
               {_QUALITY_BASE_COLS_SQL}
        FROM documents
    )
    SELECT source,
           CAST(floor(({_QUALITY_SCORE_EXPR_SQL}) * 10) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM base
    GROUP BY 1, 2
"""


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, SIGMOD 2003) over the corpus:
    4-word grams, window 5, rightmost-min selection — the local
    copy-detection fingerprint family (guarantee: any shared run of
    >= 8 words shares a fingerprint). One codegen'd map stage, no
    shuffle; md5-derived gram hashes keep the selection
    engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    return text.winnow_fingerprints(docs, k=4, window=5)


WINNOW_SQL = """
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
        SELECT doc_id,
               [CAST(('0x' || substring(md5(
                    array_to_string(list_slice(w, i + 1, i + 4), ' ')), 1, 15))
                 AS BIGINT)
                for i in range(0, greatest(len(w) - 3, 0))] AS hs
        FROM ws
    ),
    p AS (
        SELECT doc_id,
               [{'pos': i + (len(list_slice(hs, i + 1, i + 5)) + 1
                             - list_position(
                                   list_reverse(list_slice(hs, i + 1, i + 5)),
                                   list_min(list_slice(hs, i + 1, i + 5))))
                           - 1,
                 'fp': list_min(list_slice(hs, i + 1, i + 5))}
                for i in range(0, greatest(len(hs) - 4, 1))] AS picked
        FROM g WHERE len(hs) > 0
    )
    SELECT DISTINCT doc_id, CAST(u.pos AS INT) AS pos, u.fp AS fp
    FROM (SELECT doc_id, unnest(picked) AS u FROM p)
"""


def text_vocab_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encode the corpus against its own top-24 vocabulary
    (rank by frequency desc, word asc — deterministic): every token
    position becomes a vocab id, OOV = 0 — the string→integer step a
    training pipeline runs before packing. Vocabulary derivation is a
    TakeOrdered (distributed top-k) + 24-row driver collect (bounded
    by construction); encoding is the broadcast-join path (the 100 TB
    shape — see operators/text.vocab_encode)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = [
        r.w
        for r in docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(24)
        .collect()
    ]
    return text.vocab_encode(docs, vocab, method="join")


VOCAB_ENCODE_SQL = """
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    vocab AS (
        SELECT list(w ORDER BY c DESC, w) AS v FROM (
            SELECT w, count(*) AS c
            FROM (SELECT unnest(ws) AS w FROM ws)
            GROUP BY w ORDER BY c DESC, w LIMIT 24
        )
    ),
    p AS (
        SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM ws
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS token,
           CAST(coalesce(list_position(v, ws[i]), 0) AS INT) AS token_id
    FROM p, vocab
"""


def sketch_bloom_user_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit: build a row-form Bloom filter
    (m=8192, k=3) over the purchasing users, probe EVERY user, and
    report (might_contain, is_member, is_false_positive) per user.
    The md5-derived positions are engine-reproducible, so unlike the
    HLL/GK accuracy-contract oracles this one is EXACT — DuckDB builds
    the identical filter and the per-user booleans hash-compare
    directly. No false negatives by construction (a member fails only
    if the math diverged — which the oracle would catch)."""
    from solar_logger_spark.operators import sketches

    events = load_table(spark, sf_dir, "events")
    members = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id").distinct()
    )
    bits = sketches.bloom_bits(members, "user_id")
    probe = events.select("user_id").distinct()
    tested = sketches.bloom_might_contain(probe, bits, "user_id")
    flagged = tested.join(
        members.withColumn("_m", F.lit(1)), "user_id", "left"
    )
    return flagged.select(
        "user_id",
        "might_contain",
        F.col("_m").isNotNull().alias("is_member"),
        (F.col("might_contain") & F.col("_m").isNull())
        .alias("is_false_positive"),
    )


BLOOM_FILTER_SQL = """
    WITH members AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    seeds AS (SELECT unnest([0, 1, 2]) AS s),
    bits AS (
        SELECT DISTINCT
               CAST(('0x' || substring(
                   md5(CAST(user_id AS VARCHAR) || ':' || s), 1, 15))
               AS BIGINT) % 8192 AS bit
        FROM members, seeds
    ),
    probe AS (SELECT DISTINCT user_id FROM events),
    ph AS (
        SELECT user_id,
               CAST(('0x' || substring(
                   md5(CAST(user_id AS VARCHAR) || ':' || s), 1, 15))
               AS BIGINT) % 8192 AS bit
        FROM probe, seeds
    ),
    hits AS (
        SELECT p.user_id, count(b.bit) = 3 AS might_contain
        FROM ph p LEFT JOIN bits b USING (bit)
        GROUP BY p.user_id
    )
    SELECT h.user_id, h.might_contain,
           m.user_id IS NOT NULL AS is_member,
           (h.might_contain AND m.user_id IS NULL) AS is_false_positive
    FROM hits h LEFT JOIN members m ON h.user_id = m.user_id
"""


def ts_autocorrelation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function per event_type at row lags 1..5
    (operators/timeseries.autocorrelation): the seasonality diagnostic
    feeding period choices for Holt-Winters / rolling windows. Exact
    decimal moments -> one double cast -> textbook r in identical IEEE
    order (the ab_welch recipe)."""
    from solar_logger_spark.operators import timeseries as T

    events = load_table(spark, sf_dir, "events")
    return T.autocorrelation(events, lags=(1, 2, 3, 4, 5))


def _acf_oracle_sql() -> str:
    per_lag = "\n        UNION ALL\n".join(
        f"""        SELECT event_type, {lag} AS lag, x,
               lead(x, {lag}) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS y
        FROM base"""
        for lag in (1, 2, 3, 4, 5)
    )
    return f"""
    WITH base AS (
        SELECT event_type, event_id, ts,
               CAST(value AS DECIMAL(18,6)) AS x
        FROM events
    ),
    pairs AS (
{per_lag}
    ),
    m AS (
        SELECT event_type, lag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               -- scale-12 decimal sums take the VARCHAR hop (DuckDB's
               -- wide-decimal->DOUBLE cast mis-rounds by one ulp)
               CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(y * y) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(x * y) AS VARCHAR) AS DOUBLE) AS sxy
        FROM pairs WHERE y IS NOT NULL
        GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           -- guard the radicands BEFORE sqrt: a zero-variance series
           -- rounds n*sxx - sx^2 to a small negative double, which
           -- DuckDB sqrt() hard-errors on (Spark would emit NaN)
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN (n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           END AS acf
    FROM m
    """


ACF_SQL = _acf_oracle_sql()


def corpus_drift_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: a chi-square homogeneity test of the
    quality-score histogram between two corpus halves (doc_id parity
    stands in for old/new delivery), per source. The statistic uses
    only integer bin counts and IEEE-exact divisions — no
    transcendentals — so it hash-compares cross-engine exactly.

    Output per source: both sample sizes, the chi-square statistic,
    degrees of freedom (occupied bins - 1), and a drift flag at the
    rough 3.84-per-dof critical value. Everything after the one
    (source, bin, side) hash aggregate runs on a |sources| x 11 x 2
    bounded table — free at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL bins (empty-text docs -> NULL quality score) are excluded:
    # the pinned-order fold sorts by bin, and Spark's array_sort puts
    # a null-keyed struct FIRST while DuckDB's ORDER BY puts NULLs
    # LAST — the one place the engines' orderings disagree
    binned = (
        _quality_binned(docs)
        .filter(F.col("bin").isNotNull())
        .select(
            "source",
            "bin",
            (F.col("doc_id") % 2 == 0).alias("side_a"),
        )
    )
    counts = binned.groupBy("source", "bin").agg(
        F.count_if(F.col("side_a")).alias("o_a"),
        F.count_if(~F.col("side_a")).alias("o_b"),
    )
    from pyspark.sql import Window

    ws = Window.partitionBy("source")
    tot_a = F.sum("o_a").over(ws)
    tot_b = F.sum("o_b").over(ws)
    tot = (tot_a + tot_b).cast("double")
    bin_tot = (F.col("o_a") + F.col("o_b")).cast("double")
    e_a = bin_tot * tot_a.cast("double") / tot
    e_b = bin_tot * tot_b.cast("double") / tot
    term = (
        F.when(e_a > 0, (F.col("o_a") - e_a) * (F.col("o_a") - e_a) / e_a)
        .otherwise(F.lit(0.0))
        + F.when(e_b > 0, (F.col("o_b") - e_b) * (F.col("o_b") - e_b) / e_b)
        .otherwise(F.lit(0.0))
    )
    per_bin = counts.select(
        "source",
        "bin",
        tot_a.alias("_na"),
        tot_b.alias("_nb"),
        term.alias("_t"),
    )
    # a plain sum() of doubles is association-sensitive (partial-agg
    # order differs between engines); fold the bin-sorted terms
    # left-to-right so the addition order is pinned on both sides
    out = per_bin.groupBy("source").agg(
        F.first("_na").cast("long").alias("n_a"),
        F.first("_nb").cast("long").alias("n_b"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bin", "_t"))),
                lambda s: s["_t"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("int").alias("dof"),
    )
    return out.select(
        "source", "n_a", "n_b", "chi2", "dof",
        (F.col("chi2") > 3.84 * F.col("dof")).alias("drift_flag"),
    )


CORPUS_DRIFT_SQL = f"""
    WITH base AS (
        SELECT doc_id, source,
               {_QUALITY_BASE_COLS_SQL}
        FROM documents
    ),
    binned AS (
        SELECT source,
               CAST(floor(({_QUALITY_SCORE_EXPR_SQL}) * 10) AS INT) AS bin,
               doc_id % 2 = 0 AS side_a
        FROM base
        -- NULL bins excluded: engines order NULL sort keys
        -- differently, which would unpin the chi2 fold order
        WHERE floor(({_QUALITY_SCORE_EXPR_SQL}) * 10) IS NOT NULL
    ),
    counts AS (
        SELECT source, bin,
               count(CASE WHEN side_a THEN 1 END) AS o_a,
               count(CASE WHEN NOT side_a THEN 1 END) AS o_b
        FROM binned GROUP BY source, bin
    ),
    w AS (
        SELECT source, bin, o_a, o_b,
               sum(o_a) OVER (PARTITION BY source) AS na,
               sum(o_b) OVER (PARTITION BY source) AS nb
        FROM counts
    ),
    t AS (
        SELECT source, bin, na, nb,
               (CASE WHEN CAST(o_a + o_b AS DOUBLE) * CAST(na AS DOUBLE)
                          / CAST(na + nb AS DOUBLE) > 0
                     THEN (o_a - CAST(o_a + o_b AS DOUBLE)
                                 * CAST(na AS DOUBLE)
                                 / CAST(na + nb AS DOUBLE))
                          * (o_a - CAST(o_a + o_b AS DOUBLE)
                                   * CAST(na AS DOUBLE)
                                   / CAST(na + nb AS DOUBLE))
                          / (CAST(o_a + o_b AS DOUBLE) * CAST(na AS DOUBLE)
                             / CAST(na + nb AS DOUBLE))
                     ELSE 0.0 END)
               + (CASE WHEN CAST(o_a + o_b AS DOUBLE) * CAST(nb AS DOUBLE)
                            / CAST(na + nb AS DOUBLE) > 0
                       THEN (o_b - CAST(o_a + o_b AS DOUBLE)
                                   * CAST(nb AS DOUBLE)
                                   / CAST(na + nb AS DOUBLE))
                            * (o_b - CAST(o_a + o_b AS DOUBLE)
                                     * CAST(nb AS DOUBLE)
                                     / CAST(na + nb AS DOUBLE))
                            / (CAST(o_a + o_b AS DOUBLE)
                               * CAST(nb AS DOUBLE)
                               / CAST(na + nb AS DOUBLE))
                       ELSE 0.0 END) AS term
        FROM w
    )
    SELECT source, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           -- left fold in bin order: pinned addition order matches the
           -- Spark side's aggregate() over the bin-sorted term array
           list_reduce(list_prepend(0.0, list(term ORDER BY bin)),
                       (a, b) -> a + b) AS chi2,
           CAST(count(*) - 1 AS INT) AS dof,
           list_reduce(list_prepend(0.0, list(term ORDER BY bin)),
                       (a, b) -> a + b) > 3.84 * (count(*) - 1)
               AS drift_flag
    FROM t
    GROUP BY source, na, nb
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive event types per user (ordered by ts with the event_id
    tiebreak): the sequence-mining staple behind funnel hypotheses and
    session simulators. One analytic window on the user key + one
    bounded (|types|^2) hash agg; probability is a single exact
    int/int division."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wrow).cast("double")
        ).alias("p"),
    )


TRANSITION_MATRIX_SQL = """
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
           / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM counts
"""


def join_bloom_prefilter_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join — the runtime-filter pattern spelled out
    as an operator: build a Bloom filter over the (small) filtered
    dimension's keys, prune the (huge) fact side with the MAP-ONLY
    broadcast probe (sketches.bloom_prefilter — k broadcast hash
    joins inside the fact scan's own stage, the fact side is never
    exchanged) BEFORE the shuffle join, then join exactly. False
    positives are eliminated by the real join, so the RESULT equals
    the plain join — which is exactly what the oracle asserts (plain
    SQL join; the bloom stage must be invisible in the output). At
    100 TB the win is shuffle volume: only fact rows that might match
    get exchanged. Spark's own AQE runtime filters do a form of this
    automatically; the explicit operator makes the pattern available
    to any join and any persisted filter artifact."""
    from solar_logger_spark.operators import sketches

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    line = load_table(spark, sf_dir, "lineitem")
    # scheme="xxh64" (r12): the filter is output-invisible here (the
    # exact join removes its false positives — the oracle is the plain
    # join), so the cheap integer position scheme replaces the
    # engine-reproducible md5 chain on both the build and probe sides.
    bits = sketches.bloom_bits(
        orders.select(F.col("o_orderkey").alias("k")), "k",
        m=1 << 17, k=3, scheme="xxh64",
    )
    pre = sketches.bloom_prefilter(
        line.select(F.col("l_orderkey").alias("k"), "l_quantity"),
        bits, "k", m=1 << 17, k=3, scheme="xxh64",
    )
    joined = pre.join(
        orders.select(F.col("o_orderkey").alias("k"), "o_orderpriority"),
        "k",
    )
    dec = F.col("l_quantity").cast("decimal(18,6)")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(dec).cast("double").alias("sum_qty"),
    )


JOIN_BLOOM_PREFILTER_SQL = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
"""


def funnel_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel with EXISTS semantics: a user converts a stage
    if ANY qualifying chain exists (view -> click within 12 h ->
    purchase within 12 h of that click) — not just the greedy
    first-event chain (funnel_conversion_events), which can miss a
    later successful path. Per-user boolean flags, one row per active
    user.

    Shape: stage frames join per user with band predicates, then
    dedupe to reachable-event sets before the next stage — each join
    is user-keyed (co-partitioned after the first shuffle) and the
    intermediate "reachable clicks" table is bounded by the click
    count, never a cross-product materialization; the final flags are
    two semi-join-shaped distincts. The 12-hour width is chosen so
    every stage has BOTH positives and negatives at every verify
    scale (a 30-min window left stage 3 all-false at sf<=0.01 — an
    unexercised oracle gate); boundary semantics are pinned by a
    constructed-data pytest."""
    events = load_table(spark, sf_dir, "events")
    half_day = F.expr("INTERVAL 12 HOURS")
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    c = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    reach_c = (
        v.join(c, "user_id")
        .filter(
            (F.col("c_ts") > F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + half_day)
        )
        .select("user_id", "c_ts")
        .distinct()
    )
    full = (
        reach_c.join(p, "user_id")
        .filter(
            (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + half_day)
        )
        .select("user_id")
        .distinct()
        .withColumn("_full", F.lit(1))
    )
    vc_users = reach_c.select("user_id").distinct().withColumn(
        "_vc", F.lit(1)
    )
    v_users = v.select("user_id").distinct().withColumn("_v", F.lit(1))
    users = events.select("user_id").distinct()
    return (
        users.join(v_users, "user_id", "left")
        .join(vc_users, "user_id", "left")
        .join(full, "user_id", "left")
        .select(
            "user_id",
            F.col("_v").isNotNull().alias("viewed"),
            F.col("_vc").isNotNull().alias("clicked_within_12h"),
            F.col("_full").isNotNull().alias("purchased_within_12h"),
        )
    )


FUNNEL_WINDOWED_SQL = """
    SELECT u.user_id,
           EXISTS (SELECT 1 FROM events v
                   WHERE v.user_id = u.user_id
                     AND v.event_type = 'view') AS viewed,
           EXISTS (SELECT 1 FROM events v JOIN events c
                       ON c.user_id = v.user_id
                   WHERE v.user_id = u.user_id
                     AND v.event_type = 'view' AND c.event_type = 'click'
                     AND c.ts > v.ts
                     AND c.ts <= v.ts + INTERVAL 12 HOUR)
               AS clicked_within_12h,
           EXISTS (SELECT 1 FROM events v
                   JOIN events c ON c.user_id = v.user_id
                   JOIN events p ON p.user_id = v.user_id
                   WHERE v.user_id = u.user_id
                     AND v.event_type = 'view' AND c.event_type = 'click'
                     AND p.event_type = 'purchase'
                     AND c.ts > v.ts
                     AND c.ts <= v.ts + INTERVAL 12 HOUR
                     AND p.ts > c.ts
                     AND p.ts <= c.ts + INTERVAL 12 HOUR)
               AS purchased_within_12h
    FROM (SELECT DISTINCT user_id FROM events) u
"""


def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of purchasing users: recency (whole days since
    the user's last purchase, against the corpus max ts), frequency
    (purchase count), monetary (exact DECIMAL revenue sum), each
    classified 1-3 by exact tercile thresholds computed over the user
    table. Threshold comparison uses the same interpolated-percentile
    doubles on both engines (the corpus_length_quantiles precedent),
    so the classes hash-compare exactly.

    Shape: one user-keyed hash agg over purchases; the 1-row threshold
    frame crossJoins (broadcast of one row — the tpch_q11 pattern);
    classification is a map. Scales as a plain grouped aggregate."""
    events = load_table(spark, sf_dir, "events")
    buys = events.filter(F.col("event_type") == "purchase")
    anchor = buys.agg(F.max("ts").alias("_t0"))
    per_user = (
        buys.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    epoch_us(F.first("_t0"))
                    - epoch_us(F.max("ts"))
                )
                / F.lit(86_400_000_000)
            ).cast("long").alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    th = per_user.agg(
        F.expr("percentile(recency_days, 0.33)").alias("r33"),
        F.expr("percentile(recency_days, 0.66)").alias("r66"),
        F.expr("percentile(frequency, 0.33)").alias("f33"),
        F.expr("percentile(frequency, 0.66)").alias("f66"),
        F.expr("percentile(monetary, 0.33)").alias("m33"),
        F.expr("percentile(monetary, 0.66)").alias("m66"),
    )

    def cls(col, lo, hi, invert=False):
        # class 3 is "best": low recency, high frequency/monetary
        first = F.when(F.col(col) <= F.col(lo), 3 if invert else 1)
        second = first.when(F.col(col) <= F.col(hi), 2)
        return second.otherwise(1 if invert else 3).cast("int")

    return per_user.crossJoin(F.broadcast(th)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        cls("recency_days", "r33", "r66", invert=True).alias("r_class"),
        cls("frequency", "f33", "f66").alias("f_class"),
        cls("monetary", "m33", "m66").alias("m_class"),
    )


RFM_SEGMENTS_SQL = """
    WITH buys AS (
        SELECT user_id, ts, CAST(value AS DECIMAL(18,6)) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    anchor AS (SELECT max(ts) AS t0 FROM buys),
    per_user AS (
        SELECT user_id,
               CAST(floor(CAST(epoch_us(t0) - epoch_us(max(ts)) AS DOUBLE)
                          / 86400000000) AS BIGINT) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(v) AS DOUBLE) AS monetary
        FROM buys, anchor
        GROUP BY user_id, t0
    ),
    th AS (
        SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.33) AS r33,
               quantile_cont(CAST(recency_days AS DOUBLE), 0.66) AS r66,
               quantile_cont(CAST(frequency AS DOUBLE), 0.33) AS f33,
               quantile_cont(CAST(frequency AS DOUBLE), 0.66) AS f66,
               quantile_cont(monetary, 0.33) AS m33,
               quantile_cont(monetary, 0.66) AS m66
        FROM per_user
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(CASE WHEN recency_days <= r33 THEN 3
                     WHEN recency_days <= r66 THEN 2
                     ELSE 1 END AS INT) AS r_class,
           CAST(CASE WHEN frequency <= f33 THEN 1
                     WHEN frequency <= f66 THEN 2
                     ELSE 3 END AS INT) AS f_class,
           CAST(CASE WHEN monetary <= m33 THEN 1
                     WHEN monetary <= m66 THEN 2
                     ELSE 3 END AS INT) AS m_class
    FROM per_user, th
"""


def basket_affinity_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items: which
    part pairs co-occur in the same order more than chance predicts.

    Reference scope note: the reference engine has no relational
    analytics at all (it is an MQTT->InfluxDB ingest client); this is
    part of the beyond-reference LLM/analytics operator family.
    Support threshold 3 keeps the output discriminating at both verify
    scales (433 rows at sf0.001, 63 at sf0.01 — measured)."""
    li = load_table(spark, sf_dir, "lineitem")
    # min_item_support deliberately OFF: lineitem baskets are bounded
    # (<= 7 items), so the apriori prefilter's extra broadcast +
    # re-collect costs more than the fan-out it prunes (measured 1.7s
    # vs 2.4s steady-state at sf0.1). The prefilter is for heavy-basket
    # corpora — see operators/basket.py and its fan-out pytest.
    return basket.frequent_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey", min_support=3
    )


BASKET_AFFINITY_SQL = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    baskets AS (SELECT count(DISTINCT basket) AS n_baskets FROM items),
    pair AS (
        SELECT a.item AS item_a, b.item AS item_b,
               count(*) AS pair_count
        FROM items a JOIN items b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    ic AS (SELECT item, count(*) AS item_count FROM items GROUP BY 1)
    SELECT item_a, item_b, pair_count,
           ia.item_count AS a_count, ib.item_count AS b_count,
           n_baskets,
           CAST(pair_count AS DOUBLE) / CAST(ia.item_count AS DOUBLE)
               AS confidence,
           CAST(pair_count * n_baskets AS DOUBLE)
               / CAST(ia.item_count * ib.item_count AS DOUBLE) AS lift
    FROM pair
    JOIN ic ia ON ia.item = pair.item_a
    JOIN ic ib ON ib.item = pair.item_b
    CROSS JOIN baskets
"""


# -- skew mitigation (operators/skew.py), declared with oracle-equality
# proofs: the salt must be INVISIBLE in the result -------------------------

def join_salted_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dimension join declared as a query: the
    lineitem fact side is salted (operators.skew.salted_join, 8 salts
    hash-derived from l_orderkey — NOT the join key, or a hot key's
    rows would all land in one salt bucket), the part dimension is
    exploded 8x so every (key, salt) pair finds its match, and the
    join shuffles on (p_partkey, _salt) so one hot part spreads over 8
    reducers instead of serializing on one. The oracle is the PLAIN
    join + aggregate — what the driver hash-checks is precisely the
    operator's contract, that salting changes the schedule and never
    the result. Sums are exact DECIMAL(18,6) cast to double once
    (quantities/prices have <= 2 dp; sums stay far below 2^53 units),
    so the equality is bitwise, not approximate. At 100 TB this is the
    posture for a shuffle join whose dimension exceeds the broadcast
    threshold but whose fact keys are power-law."""
    from solar_logger_spark.operators import skew

    line = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_orderkey", "l_quantity", "l_extendedprice",
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = skew.salted_join(
        line, part, ["p_partkey"], n_salt=8, salt_from=["l_orderkey"]
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double").alias("sum_price"),
    )


JOIN_SALTED_BRAND_SQL = """
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
"""


def agg_two_phase_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation declared as a query: sum and
    count of events.value per event_type run as groupBy(key, salt)
    partials then a final groupBy(key) combine
    (operators.skew.two_phase_agg_multi, 16 salts from event_id) — both
    measures in ONE fact-table pass and no per-measure result join (an
    inner join on event_type would drop a NULL group the groupBy
    keeps) — so a dominant event_type never serializes on a single
    reducer. The
    value is cast to DECIMAL(18,6) BEFORE the partial phase — decimal
    addition is associative, so splitting the sum across salt buckets
    cannot change the result the way reordered double addition would;
    the oracle is the plain one-phase aggregate. (Spark's own partial
    aggregation already map-side-combines; the explicit salted phase
    is for the reduce-side hot key, and the declared proof is that it
    is result-invisible.)"""
    from solar_logger_spark.operators import skew

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,6)")
    )
    both = skew.two_phase_agg_multi(
        ev, ["event_type"],
        [("sum", "value_dec", "sum_dec"),
         ("count", "event_id", "n_events")],
        n_salt=16, salt_from=["event_id"],
    )
    return both.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


AGG_TWO_PHASE_SQL = """
    SELECT event_type,
           CAST(count(event_id) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY event_type
"""


# -- declarative data-quality gate (operators/expectations.py) -------------

def quality_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over events + documents — the
    dbt-test-style gate a training pipeline runs before shipping a
    corpus slice: one report row per check with exact violation
    counts. All events row-predicates share ONE aggregate scan; the
    uniqueness check is its own aggregation (the profile.py
    multi-distinct lesson); the FK check is a left join against
    distinct customer keys folded into one aggregate — no crossJoin.
    The suite is chosen to DISCRIMINATE: accepted_values and in_range
    fail on real rows at every verify scale (event_type has
    signup/error outside the declared set; value's p99 exceeds the
    200 cap), while not_null / unique / referential pass — so both
    branches of `passed` and nonzero violation counts are exercised.
    Counts are integers and `passed` a boolean: exact by
    construction."""
    from solar_logger_spark.operators import expectations as ex

    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    customer = load_table(spark, sf_dir, "customer")
    ev_report = ex.run_suite(
        events,
        [
            ex.not_null("user_id"),
            ex.unique("event_id"),
            ex.accepted_values("event_type", ["view", "click", "purchase"]),
            ex.in_range("value", 0, 200),
            ex.referential("user_id", customer, "c_custkey"),
        ],
        table="events",
    )
    doc_report = ex.run_suite(
        docs,
        [
            ex.not_null("text"),
            ex.accepted_values("lang", ["en", "de", "fr", "es"]),
        ],
        table="documents",
    )
    return ev_report.unionByName(doc_report).orderBy("check_name")


EXPECTATION_SUITE_SQL = """
    WITH rep AS (
        SELECT 'events.not_null.user_id' AS check_name,
               'not_null' AS check_type, 'user_id' AS column_name,
               count(*) AS n_rows,
               count(*) FILTER (user_id IS NULL) AS n_violations
        FROM events
        UNION ALL
        SELECT 'events.unique.event_id', 'unique', 'event_id',
               count(*),
               count(event_id) - count(DISTINCT event_id)
        FROM events
        UNION ALL
        SELECT 'events.accepted_values.event_type', 'accepted_values',
               'event_type', count(*),
               count(*) FILTER (event_type IS NOT NULL AND
                   event_type NOT IN ('view', 'click', 'purchase'))
        FROM events
        UNION ALL
        SELECT 'events.in_range.value[0,200]', 'in_range', 'value',
               count(*),
               count(*) FILTER (value IS NOT NULL AND
                   (value < 0 OR value > 200))
        FROM events
        UNION ALL
        SELECT 'events.referential.user_id->c_custkey', 'referential',
               'user_id',
               count(*),
               count(*) FILTER (user_id IS NOT NULL AND user_id NOT IN
                   (SELECT c_custkey FROM customer))
        FROM events
        UNION ALL
        SELECT 'documents.not_null.text', 'not_null', 'text',
               count(*),
               count(*) FILTER (text IS NULL)
        FROM documents
        UNION ALL
        SELECT 'documents.accepted_values.lang', 'accepted_values',
               'lang', count(*),
               count(*) FILTER (lang IS NOT NULL AND
                   lang NOT IN ('en', 'de', 'fr', 'es'))
        FROM documents
    )
    SELECT check_name, check_type, column_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           (n_violations = 0) AS passed
    FROM rep
    ORDER BY check_name
"""


def text_trigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM fluency scoring of the whole corpus against a model
    trained on the lang='en' slice (operators.text.ngram_lm_score) —
    the CCNet-style "score target data with a reference-corpus LM"
    quality filter. On this corpus the languages share one vocabulary
    but differ in word ORDER, which is exactly what an n-gram LM
    detects: en docs score unseen_frac = 0 while other langs sit near
    0.65 (measured at sf0.001 AND sf0.01 — both classes present at
    every verify scale, ~300/500 docs nonzero), and lm_score varies
    continuously. Log-free by design: each probability is one IEEE
    divide of exact integer counts and the per-doc mean is a
    position-pinned left fold, so the DuckDB twin is bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("lang") == "en")
    return text.ngram_lm_score(docs, train_df=train, n=3)


TRIGRAM_LM_SQL = """
    WITH tr AS (
        SELECT string_split(text, ' ') AS ws FROM documents
        WHERE lang = 'en'
    ),
    trg AS (
        SELECT unnest([{'w0': ws[i], 'w1': ws[i+1], 'w2': ws[i+2]}
                       for i in range(1, greatest(len(ws) - 1, 1))]) AS g
        FROM tr WHERE len(ws) >= 3
    ),
    c3 AS (
        SELECT g.w0 AS w0, g.w1 AS w1, g.w2 AS w2, count(*) AS c_full
        FROM trg GROUP BY 1, 2, 3
    ),
    c2 AS (
        SELECT w0, w1, sum(c_full) AS c_ctx FROM c3 GROUP BY 1, 2
    ),
    v AS (
        SELECT count(DISTINCT w) AS vsize
        FROM (SELECT unnest(ws) AS w FROM tr)
    ),
    sc AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    scg AS (
        SELECT doc_id,
               unnest([{'pos': i, 'w0': ws[i], 'w1': ws[i+1],
                        'w2': ws[i+2]}
                       for i in range(1, greatest(len(ws) - 1, 1))]) AS g
        FROM sc WHERE len(ws) >= 3
    ),
    p AS (
        SELECT scg.doc_id, scg.g.pos AS pos,
               CAST(coalesce(c3.c_full, 0) + 1 AS DOUBLE)
               / CAST(coalesce(c2.c_ctx, 0) + (SELECT vsize FROM v)
                      AS DOUBLE) AS p,
               (c3.c_full IS NULL) AS unseen
        FROM scg
        LEFT JOIN c3 ON scg.g.w0 = c3.w0 AND scg.g.w1 = c3.w1
                    AND scg.g.w2 = c3.w2
        LEFT JOIN c2 ON scg.g.w0 = c2.w0 AND scg.g.w1 = c2.w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           list_reduce(list_prepend(0.0, list(p ORDER BY pos)),
                       (a, b) -> a + b)
               / CAST(count(*) AS DOUBLE) AS lm_score,
           CAST(count(*) FILTER (unseen) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS unseen_frac
    FROM p
    GROUP BY doc_id
"""


# -- record linkage (operators/linkage.py) ---------------------------------

def er_fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join declared as a query: a noisy
    "vendor feed" is derived from the part catalog in-query by four
    deterministic md5-parity corruption classes (0: exact copy, 1:
    last char dropped, 2: first two chars -> 'xx' — noise landing in
    the blocking-favorite first token, 3: gibberish beyond the edit
    threshold), then matched back to the catalog with
    operators.linkage.fuzzy_join (FastSS deletion-neighborhood
    candidates — token blocking OOMs on this tiny-vocabulary corpus's
    giant blocks — thresholded levenshtein verification, deterministic
    best-match, unmatched rows kept as NULLs). Every class is present
    at every verify scale (md5-uniform), so the output exercises
    exact, near, and unmatched branches; distances and keys are exact
    integers, engine-independent. The oracle is deliberately DUMBER
    than the operator: a length-banded brute-force cross join is
    exhaustive for the same threshold at oracle scale, so it checks
    the deletes strategy's completeness, not a re-implementation of
    it."""
    from solar_logger_spark.operators import linkage

    part = load_table(spark, sf_dir, "part")
    cls = F.pmod(
        F.conv(F.substring(F.md5("p_name"), 1, 15), 16, 10).cast("long"),
        F.lit(4),
    )
    feed = part.select(
        F.col("p_partkey").alias("feed_id"),
        cls.cast("long").alias("corruption"),
        F.when(cls == 0, F.col("p_name"))
        .when(cls == 1, F.expr("substring(p_name, 1, length(p_name) - 1)"))
        .when(cls == 2, F.concat(F.lit("xx"), F.expr("substring(p_name, 3)")))
        .otherwise(F.concat(F.lit("zz"), F.substring(F.md5("p_name"), 1, 8)))
        .alias("feed_name"),
    )
    matched = linkage.fuzzy_join(
        feed, part, "feed_id", "feed_name", "p_partkey", "p_name",
        max_dist=2, broadcast_right=True,
    )
    return (
        matched.join(feed.select("feed_id", "corruption"), "feed_id")
        .select(
            "feed_id", "feed_name", "corruption",
            "match_p_partkey", "match_p_name", "dist",
        )
        .orderBy("feed_id")
    )


ER_FUZZY_MATCH_SQL = """
    WITH feed AS (
        SELECT p_partkey AS feed_id,
               CAST(('0x' || substring(md5(p_name), 1, 15)) AS BIGINT)
                   % 4 AS corruption,
               CASE CAST(('0x' || substring(md5(p_name), 1, 15))
                        AS BIGINT) % 4
                    WHEN 0 THEN p_name
                    WHEN 1 THEN substring(p_name, 1, length(p_name) - 1)
                    WHEN 2 THEN 'xx' || substring(p_name, 3)
                    ELSE 'zz' || substring(md5(p_name), 1, 8)
               END AS feed_name
        FROM part
    ),
    cand AS (
        SELECT f.feed_id, f.feed_name, p.p_partkey, p.p_name,
               levenshtein(f.feed_name, p.p_name) AS dist
        FROM feed f
        JOIN part p
          ON abs(length(f.feed_name) - length(p.p_name)) <= 2
        WHERE levenshtein(f.feed_name, p.p_name) <= 2
    ),
    best AS (
        SELECT feed_id, p_partkey, p_name, dist,
               row_number() OVER (PARTITION BY feed_id
                                  ORDER BY dist, p_partkey) AS rn
        FROM cand
    )
    SELECT f.feed_id, f.feed_name,
           CAST(f.corruption AS BIGINT) AS corruption,
           b.p_partkey AS match_p_partkey,
           b.p_name AS match_p_name,
           CAST(b.dist AS BIGINT) AS dist
    FROM feed f
    LEFT JOIN best b ON b.feed_id = f.feed_id AND b.rn = 1
    ORDER BY f.feed_id
"""


# The SQL twin of the deterministic IVF-PQ (IVFADC) pipeline:
# md5-seeded coarse codebook over normalized vectors, exact residuals,
# md5-seeded residual PQ codebooks, per-(query, cell) ADC tables summed
# in subspace order, shortlist + exact re-rank, and the recall column —
# every float bit-identical to the Spark side.
ANN_IVFPQ_SQL = """
WITH raw AS (
    SELECT vec_id AS vid, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
),
vn AS (
    SELECT vid, [x / nrm FOR x IN v] AS v
    FROM (SELECT vid, v, sqrt(list_sum([y * y FOR y IN v])) AS nrm FROM raw)
),
cinit AS (
    SELECT CAST(row_number() OVER (ORDER BY md5('ivfpq|' || CAST(vid AS VARCHAR))) - 1 AS INT) AS cell, v AS c
    FROM vn ORDER BY md5('ivfpq|' || CAST(vid AS VARCHAR)) LIMIT 16
),
cents AS (  -- coarse_rounds=0: the md5-seeded cells ARE the codebook
    SELECT cell, c FROM cinit
),
casg AS (
    SELECT vid, v, cell FROM (
        SELECT vn.vid, vn.v, cs.cell,
               row_number() OVER (PARTITION BY vn.vid ORDER BY
                   list_sum([(vn.v[d] - cs.c[d]) * (vn.v[d] - cs.c[d]) FOR d IN range(1, 65)]) ASC,
                   cs.cell ASC) AS rn
        FROM vn, cents cs) t
    WHERE rn = 1
),
resid AS (
    SELECT a.vid, a.cell, [a.v[d] - cs.c[d] FOR d IN range(1, 65)] AS r
    FROM casg a JOIN cents cs ON cs.cell = a.cell
),
rsubs AS (
    SELECT vid, cell, ms, [r[ms * 8 + d] FOR d IN range(1, 9)] AS sub
    FROM resid, range(0, 8) mm(ms)
),
binit AS (
    SELECT ms, code, sub AS c FROM (
        SELECT ms, vid, sub,
               CAST(row_number() OVER (PARTITION BY ms ORDER BY
                   md5('ivfpq|' || CAST(ms AS VARCHAR) || '|' || CAST(vid AS VARCHAR))) - 1 AS INT) AS code
        FROM rsubs) t
    WHERE code < 16
),
basg0 AS (
    SELECT vid, ms, code, sub FROM (
        SELECT s.vid, s.ms, i.code, s.sub,
               row_number() OVER (PARTITION BY s.vid, s.ms ORDER BY
                   list_sum([(s.sub[d] - i.c[d]) * (s.sub[d] - i.c[d]) FOR d IN range(1, 9)]) ASC,
                   i.code ASC) AS rn
        FROM rsubs s JOIN binit i ON i.ms = s.ms) t
    WHERE rn = 1
),
bblk AS (  -- hierarchical mean: fold within a 256-id block...
    SELECT ms, code, vid // 256 AS b, list(sub ORDER BY vid) AS mem,
           count(*) AS cnt
    FROM basg0 GROUP BY 1, 2, 3
),
bbsum AS (
    SELECT ms, code, b, cnt,
           list_reduce(list_prepend([0.0 FOR d IN range(0, 8)], mem),
                       (acc, x) -> [acc[d] + x[d] FOR d IN range(1, 9)]) AS s
    FROM bblk
),
bsb AS (  -- ...block partials in block order within a superblock...
    SELECT ms, code, b // 256 AS sb,
           list_reduce(list_prepend([0.0 FOR d IN range(0, 8)],
                                    list(s ORDER BY b)),
                       (acc, x) -> [acc[d] + x[d]
                                    FOR d IN range(1, 9)]) AS s2,
           sum(cnt) AS scnt
    FROM bbsum GROUP BY ms, code, b // 256
),
bmean AS (  -- ...then superblock partials in superblock order
    SELECT ms, code, [t[d] / n FOR d IN range(1, 9)] AS c
    FROM (
        SELECT ms, code,
               list_reduce(list_prepend([0.0 FOR d IN range(0, 8)],
                                        list(s2 ORDER BY sb)),
                           (acc, x) -> [acc[d] + x[d]
                                        FOR d IN range(1, 9)]) AS t,
               CAST(sum(scnt) AS BIGINT) AS n
        FROM bsb GROUP BY ms, code) g
),
books AS (
    SELECT i.ms, i.code, coalesce(m1.c, i.c) AS c
    FROM binit i LEFT JOIN bmean m1 ON i.ms = m1.ms AND i.code = m1.code
),
codes AS (
    SELECT vid, cell, ms, code FROM (
        SELECT s.vid, s.cell, s.ms, b.code,
               row_number() OVER (PARTITION BY s.vid, s.ms ORDER BY
                   list_sum([(s.sub[d] - b.c[d]) * (s.sub[d] - b.c[d]) FOR d IN range(1, 9)]) ASC,
                   b.code ASC) AS rn
        FROM rsubs s JOIN books b ON b.ms = s.ms) t
    WHERE rn = 1
),
qn AS (SELECT vid AS query_id, v AS qv FROM vn WHERE vid < 10),
qprobe AS (
    SELECT query_id, cell, [qv[d] - c[d] FOR d IN range(1, 65)] AS qr FROM (
        SELECT q.query_id, q.qv, cs.cell, cs.c,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   list_sum([(q.qv[d] - cs.c[d]) * (q.qv[d] - cs.c[d]) FOR d IN range(1, 65)]) ASC,
                   cs.cell ASC) AS rn
        FROM qn q, cents cs) t
    WHERE rn <= 10
),
qrsubs AS (
    SELECT query_id, cell, ms, [qr[ms * 8 + d] FOR d IN range(1, 9)] AS qsub
    FROM qprobe, range(0, 8) mm(ms)
),
dtab AS (
    SELECT q.query_id, q.cell, q.ms, b.code,
           list_sum([(q.qsub[d] - b.c[d]) * (q.qsub[d] - b.c[d]) FOR d IN range(1, 9)]) AS d2
    FROM qrsubs q JOIN books b ON b.ms = q.ms
),
adc AS (
    SELECT d.query_id, c.vid AS neighbor_id,
           list_reduce(list_prepend(0.0, list(d.d2 ORDER BY d.ms)), (a, b) -> a + b) AS adc
    FROM codes c JOIN dtab d ON d.cell = c.cell AND d.ms = c.ms AND d.code = c.code
    WHERE c.vid <> d.query_id
    GROUP BY d.query_id, c.vid
),
shortlist AS (
    SELECT query_id, neighbor_id FROM adc
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) <= 400
),
rescored AS (
    SELECT s.query_id, s.neighbor_id,
           list_sum([(q.qv[d] - v.v[d]) * (q.qv[d] - v.v[d]) FOR d IN range(1, 65)]) AS approx_dist
    FROM shortlist s
    JOIN vn v ON v.vid = s.neighbor_id
    JOIN qn q ON q.query_id = s.query_id
),
ann AS (
    SELECT query_id, neighbor_id, approx_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY approx_dist ASC, neighbor_id ASC) AS INT) AS rank
    FROM rescored QUALIFY rank <= 5
),
norms AS (
    SELECT vid, v,
           sqrt(list_sum([v[d] * v[d] FOR d IN range(1, 65)])) AS nrm
    FROM raw
),
exact AS (
    SELECT q.vid AS query_id, n.vid AS neighbor_id
    FROM norms q, norms n
    WHERE q.vid < 10 AND n.vid <> q.vid
    QUALIFY row_number() OVER (PARTITION BY q.vid
            ORDER BY list_sum([q.v[d] * n.v[d] FOR d IN range(1, 65)])
                       / (q.nrm * n.nrm) DESC,
                     n.vid ASC) <= 5
),
recall AS (
    SELECT a.query_id, count(*) / 5.0 AS recall_at_k
    FROM ann a JOIN exact e
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY a.query_id
)
SELECT a.query_id, a.neighbor_id, a.approx_dist, a.rank,
       coalesce(r.recall_at_k, 0.0) AS recall_at_k
FROM ann a LEFT JOIN recall r ON a.query_id = r.query_id
"""

# The SQL twin of the MAINTAINED-index pipeline: identical to
# ANN_IVFPQ_SQL except the model trains on the BOOTSTRAP corpus only
# (vid % 4 != 3) — coarse init, residual-codebook init, and the Lloyd
# sweep's training assignment all filter to it — while encode/search
# run over everything (bootstrap encode ∪ delivery encode ≡ encoding
# all vectors against the pinned initial-trained model, since encode is
# per-row). The persistence hop (JSON-sidecar model, parquet codes) is
# bit-exact, so no SQL-side modeling of it is needed. The train+encode
# prefix (through the ``codes`` CTE) is shared by the r10 build/search
# split: the build oracle aggregates ``codes`` per cell, the search
# oracle probes them.
_ANN_MAINTAINED_PREFIX = """
WITH raw AS (
    SELECT vec_id AS vid, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings
),
vn AS (
    SELECT vid, [x / nrm FOR x IN v] AS v
    FROM (SELECT vid, v, sqrt(list_sum([y * y FOR y IN v])) AS nrm FROM raw)
),
cinit AS (  -- coarse model: md5-seeded over the BOOTSTRAP corpus only
    SELECT CAST(row_number() OVER (ORDER BY md5('ivfpq|' || CAST(vid AS VARCHAR))) - 1 AS INT) AS cell, v AS c
    FROM vn WHERE vid % 4 != 3
    ORDER BY md5('ivfpq|' || CAST(vid AS VARCHAR)) LIMIT 16
),
cents AS (
    SELECT cell, c FROM cinit
),
casg AS (  -- encode EVERYTHING against the pinned cells
    SELECT vid, v, cell FROM (
        SELECT vn.vid, vn.v, cs.cell,
               row_number() OVER (PARTITION BY vn.vid ORDER BY
                   list_sum([(vn.v[d] - cs.c[d]) * (vn.v[d] - cs.c[d]) FOR d IN range(1, 65)]) ASC,
                   cs.cell ASC) AS rn
        FROM vn, cents cs) t
    WHERE rn = 1
),
resid AS (
    SELECT a.vid, a.cell, [a.v[d] - cs.c[d] FOR d IN range(1, 65)] AS r
    FROM casg a JOIN cents cs ON cs.cell = a.cell
),
rsubs AS (
    SELECT vid, cell, ms, [r[ms * 8 + d] FOR d IN range(1, 9)] AS sub
    FROM resid, range(0, 8) mm(ms)
),
books AS (  -- residual codebooks: md5-seeded over the bootstrap
            -- corpus, NO Lloyd sweep (lloyd_rounds=0 — the pinned-fold
            -- trainer is already hash-verified by similarity_ann_ivfpq;
            -- this query pins the persistence/delta loop)
    SELECT ms, code, sub AS c FROM (
        SELECT ms, vid, sub,
               CAST(row_number() OVER (PARTITION BY ms ORDER BY
                   md5('ivfpq|' || CAST(ms AS VARCHAR) || '|' || CAST(vid AS VARCHAR))) - 1 AS INT) AS code
        FROM rsubs WHERE vid % 4 != 3) t
    WHERE code < 16
),
codes AS (  -- encode everything against the pinned books
    SELECT vid, cell, ms, code FROM (
        SELECT s.vid, s.cell, s.ms, b.code,
               row_number() OVER (PARTITION BY s.vid, s.ms ORDER BY
                   list_sum([(s.sub[d] - b.c[d]) * (s.sub[d] - b.c[d]) FOR d IN range(1, 9)]) ASC,
                   b.code ASC) AS rn
        FROM rsubs s JOIN books b ON b.ms = s.ms) t
    WHERE rn = 1
)"""

ANN_MAINTAINED_BUILD_SQL = _ANN_MAINTAINED_PREFIX + """
SELECT cell,
       CAST(count(DISTINCT vid) AS BIGINT) AS n_vecs,
       CAST(count(*) AS BIGINT) AS n_code_rows,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(vid * code) AS BIGINT) AS vid_code_sum
FROM codes GROUP BY cell
"""

ANN_MAINTAINED_SQL = _ANN_MAINTAINED_PREFIX + """,
qn AS (SELECT vid AS query_id, v AS qv FROM vn WHERE vid < 10),
qprobe AS (
    SELECT query_id, cell, [qv[d] - c[d] FOR d IN range(1, 65)] AS qr FROM (
        SELECT q.query_id, q.qv, cs.cell, cs.c,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   list_sum([(q.qv[d] - cs.c[d]) * (q.qv[d] - cs.c[d]) FOR d IN range(1, 65)]) ASC,
                   cs.cell ASC) AS rn
        FROM qn q, cents cs) t
    WHERE rn <= 12
),
qrsubs AS (
    SELECT query_id, cell, ms, [qr[ms * 8 + d] FOR d IN range(1, 9)] AS qsub
    FROM qprobe, range(0, 8) mm(ms)
),
dtab AS (
    SELECT q.query_id, q.cell, q.ms, b.code,
           list_sum([(q.qsub[d] - b.c[d]) * (q.qsub[d] - b.c[d]) FOR d IN range(1, 9)]) AS d2
    FROM qrsubs q JOIN books b ON b.ms = q.ms
),
adc AS (
    SELECT d.query_id, c.vid AS neighbor_id,
           list_reduce(list_prepend(0.0, list(d.d2 ORDER BY d.ms)), (a, b) -> a + b) AS adc
    FROM codes c JOIN dtab d ON d.cell = c.cell AND d.ms = c.ms AND d.code = c.code
    WHERE c.vid <> d.query_id
    GROUP BY d.query_id, c.vid
),
shortlist AS (
    SELECT query_id, neighbor_id FROM adc
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) <= 800
),
rescored AS (
    SELECT s.query_id, s.neighbor_id,
           list_sum([(q.qv[d] - v.v[d]) * (q.qv[d] - v.v[d]) FOR d IN range(1, 65)]) AS approx_dist
    FROM shortlist s
    JOIN vn v ON v.vid = s.neighbor_id
    JOIN qn q ON q.query_id = s.query_id
),
ann AS (
    SELECT query_id, neighbor_id, approx_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY approx_dist ASC, neighbor_id ASC) AS INT) AS rank
    FROM rescored QUALIFY rank <= 5
),
norms AS (
    SELECT vid, v,
           sqrt(list_sum([v[d] * v[d] FOR d IN range(1, 65)])) AS nrm
    FROM raw
),
exact AS (
    SELECT q.vid AS query_id, n.vid AS neighbor_id
    FROM norms q, norms n
    WHERE q.vid < 10 AND n.vid <> q.vid
    QUALIFY row_number() OVER (PARTITION BY q.vid
            ORDER BY list_sum([q.v[d] * n.v[d] FOR d IN range(1, 65)])
                       / (q.nrm * n.nrm) DESC,
                     n.vid ASC) <= 5
),
recall AS (
    SELECT a.query_id, count(*) / 5.0 AS recall_at_k
    FROM ann a JOIN exact e
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY a.query_id
)
SELECT a.query_id, a.neighbor_id, a.approx_dist, a.rank,
       coalesce(r.recall_at_k, 0.0) AS recall_at_k
FROM ann a LEFT JOIN recall r ON a.query_id = r.query_id
"""


# registry rows: (name, builder, oracle SQL), in registry order
QUERIES = (
    ("dedup_exact_docs", dedup_exact_docs, DEDUP_EXACT_SQL),
    ("dedup_ngram_jaccard_docs", dedup_ngram_jaccard_docs, NGRAM_JACCARD_SQL),
    # exact-jaccard oracle is valid for the LSH query: candidates are
    # exact-verified (no FPs) and the collision curve is ~1.0 at the
    # corpus's observed similarity gap (no FNs)
    ("dedup_minhash_lsh_docs", dedup_minhash_lsh_docs, NGRAM_JACCARD_SQL),
    ("dedup_simhash_docs", dedup_simhash_docs, dedup.simhash_oracle_sql()),
    ("text_fingerprint_docs", text_fingerprint_docs, FINGERPRINT_SQL),
    ("text_token_stats_docs", text_token_stats_docs, TOKEN_STATS_SQL),
    ("text_quality_score_docs", text_quality_score_docs, QUALITY_SCORE_SQL),
    ("text_lang_id_docs", text_lang_id_docs, text.lang_id_oracle_sql()),
    ("similarity_cosine_topk", similarity_cosine_topk, COSINE_TOPK_SQL),
    ("contrastive_hard_negatives", contrastive_hard_negatives,
     HARD_NEGATIVES_SQL),
    ("embedding_neardup_pairs", embedding_neardup_pairs, NEARDUP_PAIRS_SQL),
    ("similarity_ann_lsh", similarity_ann_lsh, ANN_LSH_SQL),
    ("similarity_ann_ivf", similarity_ann_ivf, ANN_IVF_SQL),
    ("multimodal_blob_meta", multimodal_blob_meta, BLOB_META_SQL),
    ("multimodal_decode_features", multimodal_decode_features,
     MULTIMODAL_FEATURES_SQL),
    ("multimodal_frame_sample", multimodal_frame_sample, FRAME_SAMPLE_SQL),
    ("text_tfidf_top_terms", text_tfidf_top_terms, TFIDF_SQL),
    ("value_percentiles", value_percentiles, PERCENTILES_SQL),
    ("ts_difference_events", ts_difference_events, TS_DIFFERENCE_SQL),
    ("ts_derivative_events", ts_derivative_events, TS_DERIVATIVE_SQL),
    ("ts_cumulative_sum_events", ts_cumulative_sum_events, TS_CUMSUM_SQL),
    ("ts_forward_fill_events", ts_forward_fill_events, TS_FILL_SQL),
    ("ts_increase_events", ts_increase_events, TS_INCREASE_SQL),
    ("text_bpe_token_count", text_bpe_token_count, BPE_TOKEN_SQL),
    ("value_histogram", value_histogram, VALUE_HISTOGRAM_SQL),
    ("dedup_cluster_assignments", dedup_cluster_assignments, CLUSTER_SQL),
    ("sample_hash_fraction", sample_hash_fraction, SAMPLE_FRACTION_SQL),
    ("sample_split_counts", sample_split_counts, SPLIT_COUNTS_SQL),
    ("sample_stratified_docs", sample_stratified_docs, SAMPLE_STRATIFIED_SQL),
    ("text_chunk_docs", text_chunk_docs, CHUNK_SQL),
    ("ts_elapsed_events", ts_elapsed_events, ELAPSED_SQL),
    ("ts_moving_average_events", ts_moving_average_events, MOVING_AVERAGE_SQL),
    ("sketch_distinct_users_daily", sketch_distinct_users_daily,
     SKETCH_DISTINCT_SQL),
    ("sketch_heavy_hitters", sketch_heavy_hitters, HEAVY_HITTERS_SQL),
    ("text_bm25_topk_docs", text_bm25_topk_docs, BM25_SQL),
    ("similarity_ann_pq", similarity_ann_pq, ANN_PQ_SQL),
    ("similarity_ann_ivfpq", similarity_ann_ivfpq, ANN_IVFPQ_SQL),
    ("ann_maintained_build", ann_maintained_build, ANN_MAINTAINED_BUILD_SQL),
    ("ann_maintained_search", ann_maintained_search, ANN_MAINTAINED_SQL),
    ("ts_ema_events", ts_ema_events, EMA_SQL),
    ("ts_state_count_events", ts_state_count_events, STATE_COUNT_SQL),
    ("ts_state_duration_events", ts_state_duration_events, STATE_DURATION_SQL),
    ("ts_state_changes_events", ts_state_changes_events, STATE_CHANGES_SQL),
    ("ts_event_duration_events", ts_event_duration_events, EVENT_DURATION_SQL),
    ("dedup_ngram_span_coverage", dedup_ngram_span_coverage, NGRAM_SPAN_SQL),
    ("text_unigram_rarity_docs", text_unigram_rarity_docs, UNIGRAM_RARITY_SQL),
    ("ts_derivative_nonneg_events", ts_derivative_nonneg_events,
     TS_DERIVATIVE_NONNEG_SQL),
    ("text_repetition_signals_docs", text_repetition_signals_docs,
     REPETITION_SIGNALS_SQL),
    ("embedding_label_centroids", embedding_label_centroids,
     LABEL_CENTROIDS_SQL),
    ("embedding_semantic_dedup", embedding_semantic_dedup,
     SEMANTIC_DEDUP_SQL.format(neardup=NEARDUP_PAIRS_SQL)),
    ("dedup_benchmark_contamination", dedup_benchmark_contamination,
     BENCHMARK_CONTAMINATION_SQL),
    ("corpus_stats_by_source", corpus_stats_by_source, CORPUS_STATS_SQL),
    ("text_word_freq_spectrum", text_word_freq_spectrum, WORD_FREQ_SQL),
    ("text_pack_sequences_docs", text_pack_sequences_docs, PACK_SEQUENCES_SQL),
    ("text_pii_scrub_docs", text_pii_scrub_docs, PII_SCRUB_SQL),
    ("corpus_mix_weights", corpus_mix_weights, MIX_WEIGHTS_SQL),
    ("text_training_order", text_training_order, TRAINING_ORDER_SQL),
    ("corpus_length_quantiles", corpus_length_quantiles, LENGTH_QUANTILES_SQL),
    ("text_bpe_merge_candidates", text_bpe_merge_candidates, BPE_MERGE_SQL),
    ("text_bpe_encode_docs", text_bpe_encode_docs, BPE_ENCODE_SQL),
    ("basket_affinity_parts", basket_affinity_parts, BASKET_AFFINITY_SQL),
    ("multimodal_decode_ppm", multimodal_decode_ppm, DECODE_PPM_SQL),
    ("embedding_pca_project", embedding_pca_project, PCA_PROJECT_SQL),
    ("embedding_jl_project", embedding_jl_project, JL_PROJECT_SQL),
    ("text_length_bucketed_batches", text_length_bucketed_batches,
     LENGTH_BUCKETED_SQL),
    ("corpus_content_fingerprints", corpus_content_fingerprints,
     CORPUS_FINGERPRINTS_SQL),
    ("join_salted_brand_volume", join_salted_brand_volume,
     JOIN_SALTED_BRAND_SQL),
    ("agg_two_phase_event_value", agg_two_phase_event_value,
     AGG_TWO_PHASE_SQL),
    ("quality_expectation_suite", quality_expectation_suite,
     EXPECTATION_SUITE_SQL),
    ("text_trigram_lm_quality", text_trigram_lm_quality, TRIGRAM_LM_SQL),
    ("er_fuzzy_match_parts", er_fuzzy_match_parts, ER_FUZZY_MATCH_SQL),
    ("ts_anomaly_zscore_events", ts_anomaly_zscore_events, ANOMALY_ZSCORE_SQL),
    ("ts_interpolate_linear_events", ts_interpolate_linear_events,
     INTERPOLATE_SQL),
    ("flux_correlation_click_view", flux_correlation_click_view,
     CORRELATION_SQL),
    ("ts_anomaly_mad_events", ts_anomaly_mad_events, ANOMALY_MAD_SQL),
    ("embedding_quantize_int8", embedding_quantize_int8, QUANTIZE_INT8_SQL),
    ("embedding_cluster_balance", embedding_cluster_balance,
     CLUSTER_BALANCE_SQL),
    ("text_dsir_weights", text_dsir_weights, DSIR_WEIGHTS_SQL),
    ("pipeline_corpus_build", pipeline_corpus_build,
     PIPELINE_CORPUS_BUILD_SQL),
    ("text_classifier_score_docs", text_classifier_score_docs,
     CLASSIFIER_SCORE_SQL),
    ("ts_cusum_events", ts_cusum_events, CUSUM_SQL),
    ("ts_holt_smoothing_events", ts_holt_smoothing_events, HOLT_SMOOTHING_SQL),
    ("ts_holtwinters_events", ts_holtwinters_events, HOLT_WINTERS_SQL),
    ("dedup_scrub_duplicate_spans", dedup_scrub_duplicate_spans,
     SCRUB_SPANS_SQL),
    ("ts_rsi_events", ts_rsi_events, RSI_SQL),
    ("ts_cmo_events", ts_cmo_events, CMO_SQL),
    ("ts_dema_events", ts_dema_events, DEMA_SQL),
    ("ts_tema_events", ts_tema_events, TEMA_SQL),
    ("ts_kaufmans_er_events", ts_kaufmans_er_events, KAUFMANS_ER_SQL),
    ("ts_kama_events", ts_kama_events, KAMA_SQL),
    ("ts_trix_events", ts_trix_events, TRIX_SQL),
    ("ts_covariance_click_view", ts_covariance_click_view, COVARIANCE_SQL),
    ("corpus_token_budget_select", corpus_token_budget_select,
     TOKEN_BUDGET_SQL),
    ("dedup_editdistance_docs", dedup_editdistance_docs,
     DEDUP_EDITDISTANCE_SQL),
    ("profile_columns_lineitem", profile_columns_lineitem,
     PROFILE_COLUMNS_SQL),
    ("profile_columns_exact", profile_columns_exact,
     PROFILE_COLUMNS_EXACT_SQL),
    ("text_clean_boilerplate_docs", text_clean_boilerplate_docs,
     CLEAN_BOILERPLATE_SQL),
    ("corpus_url_dedup", corpus_url_dedup, CORPUS_URL_DEDUP_SQL),
    ("text_lang_confidence_cutoff", text_lang_confidence_cutoff,
     LANG_CONFIDENCE_SQL),
    ("corpus_mix_rate_sample", corpus_mix_rate_sample,
     STRATIFIED_RATE_SAMPLE_SQL),
    ("dedup_incremental_batch", dedup_incremental_batch,
     DEDUP_INCREMENTAL_SQL),
    ("dedup_leakage_matrix", dedup_leakage_matrix, DEDUP_LEAKAGE_SQL),
    ("corpus_quality_histogram", corpus_quality_histogram,
     QUALITY_HISTOGRAM_SQL),
    ("text_winnow_fingerprints", text_winnow_fingerprints, WINNOW_SQL),
    ("text_vocab_encode_docs", text_vocab_encode_docs, VOCAB_ENCODE_SQL),
    ("sketch_bloom_user_filter", sketch_bloom_user_filter, BLOOM_FILTER_SQL),
    ("ts_autocorrelation_events", ts_autocorrelation_events, ACF_SQL),
    ("corpus_drift_chisquare", corpus_drift_chisquare, CORPUS_DRIFT_SQL),
    ("events_transition_matrix", events_transition_matrix,
     TRANSITION_MATRIX_SQL),
    ("join_bloom_prefilter_lineitem", join_bloom_prefilter_lineitem,
     JOIN_BLOOM_PREFILTER_SQL),
    ("funnel_windowed_events", funnel_windowed_events, FUNNEL_WINDOWED_SQL),
    ("events_rfm_segments", events_rfm_segments, RFM_SEGMENTS_SQL),
    ("ts_rolling_median_events", ts_rolling_median_events, ROLLING_MEDIAN_SQL),
    ("layout_zorder_events", layout_zorder_events, ZORDER_SQL),
    ("ab_welch_value_click_view", ab_welch_value_click_view, AB_WELCH_SQL),
    ("dedup_containment_docs", dedup_containment_docs, DEDUP_CONTAINMENT_SQL),
    ("sketch_quantiles_events", sketch_quantiles_events, SKETCH_QUANTILES_SQL),
    ("dedup_keep_best_quality", dedup_keep_best_quality, DEDUP_KEEP_BEST_SQL),
    ("dedup_scrub_benchmark_spans", dedup_scrub_benchmark_spans,
     SCRUB_BENCH_SQL),
    ("ts_seasonal_decompose_events", ts_seasonal_decompose_events,
     SEASONAL_DECOMPOSE_SQL),
)
