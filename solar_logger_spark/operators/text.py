"""Text-analysis operators: token stats, quality scoring, language ID,
fingerprinting.

All JVM-side expressions (split / translate / higher-order array
functions) — no Python in the hot path, so these run inside whole-stage
codegen over 100 TB of documents. Ratios are computed with identical
integer→double arithmetic on the Spark and oracle sides so results are
bit-reproducible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

PUNCT = ".,!?;:"

# tiny marker-word inventories for the n-gram-free language heuristic;
# deterministic and reproducible in plain SQL
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "de", "et", "les", "une"],
}

STOPWORDS = LANG_MARKERS["en"]


def _toks(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _marker_hits(text_col: str, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(_toks(text_col), lambda t: F.array_contains(arr, t)))


def token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Tokens / chars / average token length / punctuation count."""
    n_tokens = F.size(_toks(text_col))
    n_chars = F.length(F.col(text_col))
    punct = n_chars - F.length(F.translate(F.col(text_col), PUNCT, ""))
    return df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        # total token chars = chars minus the (n_tokens - 1) separators
        (
            (n_chars - (n_tokens - 1)).cast("double") / n_tokens.cast("double")
        ).alias("avg_token_len"),
        punct.cast("long").alias("punct_count"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Composite quality heuristic: length band + stopword presence −
    punctuation noise. The exact formula matters less than that it is
    deterministic, cheap, and monotone in the signals a filtering
    pipeline uses."""
    n_tokens = F.size(_toks(text_col))
    n_chars = F.length(F.col(text_col))
    punct = n_chars - F.length(F.translate(F.col(text_col), PUNCT, ""))
    stop_hits = _marker_hits(text_col, STOPWORDS)
    # try_divide: empty docs (0 chars) yield null ratios rather than an
    # ANSI divide-by-zero error — matching DuckDB's x/0 → NULL, so the
    # oracle comparison holds even on degenerate corpora
    stop_ratio = F.try_divide(stop_hits.cast("double"), n_tokens.cast("double"))
    punct_ratio = F.try_divide(punct.cast("double"), n_chars.cast("double"))
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 1000), 1.0).otherwise(0.0)
    score = length_ok * 0.4 + stop_ratio * 0.4 + (F.lit(1.0) - punct_ratio) * 0.2
    return df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def lang_hit_columns(text_col: str = "text") -> dict[str, Column]:
    """Per-language marker-hit count expressions keyed by language —
    the single Python source of the evidence columns both ``lang_id``
    and ``cleaning.lang_confidence`` attach (as ``hits_<lang>``)."""
    return {
        lang: _marker_hits(text_col, markers).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_pred_expr() -> Column:
    """Argmax over the attached ``hits_<lang>`` columns with the
    deterministic tie rule (first-listed language wins): strictly
    greater than every LATER language, >= every EARLIER one. The one
    Python copy of the rule; the one SQL copy is
    :func:`lang_sql_parts` below."""
    langs = list(LANG_MARKERS)
    pred = F.lit(None).cast("string")
    # build argmax right-to-left: earlier languages win ties
    for lang in reversed(langs):
        cond = None
        for other in langs:
            if other == lang:
                continue
            clause = (
                F.col(f"hits_{lang}") >= F.col(f"hits_{other}")
                if langs.index(other) > langs.index(lang)
                else F.col(f"hits_{lang}") > F.col(f"hits_{other}")
            )
            cond = clause if cond is None else (cond & clause)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language ID: argmax of per-language marker hits,
    first-listed language wins ties (deterministic)."""
    out = df.select(F.col(id_col), F.col(text_col))
    for lang, hits in lang_hit_columns(text_col).items():
        out = out.withColumn(f"hits_{lang}", hits)
    langs = list(LANG_MARKERS)
    return out.select(
        id_col,
        *[f"hits_{lang}" for lang in langs],
        lang_pred_expr().alias("pred_lang"),
    )


def lang_sql_parts(text_col: str = "text") -> dict[str, str]:
    """THE single SQL source of the language-evidence fragments — the
    DuckDB twin of :func:`lang_hit_columns` / :func:`lang_pred_expr`.
    Returns ``hit_cols`` (per-lang hit-count column list), ``total``,
    ``top`` (over the attached ``hits_*`` columns), and ``case`` (the
    argmax with the first-listed-wins tie rule). Composed by the
    lang_id oracle below, scale_ops' lang-confidence oracle, AND the
    corpus-build funnel oracle, so the rule cannot drift."""
    langs = list(LANG_MARKERS)

    def hits(markers: list[str]) -> str:
        inlist = ", ".join(f"'{m}'" for m in markers)
        return (
            f"len(list_filter(string_split({text_col}, ' '), "
            f"t -> t IN ({inlist})))"
        )

    hit_cols = ", ".join(
        f"{hits(m)} AS hits_{lang}" for lang, m in LANG_MARKERS.items()
    )
    total = " + ".join(f"hits_{lang}" for lang in langs)
    top = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    branches = []
    for lang in langs:
        clauses = []
        for other in langs:
            if other == lang:
                continue
            op = ">=" if langs.index(other) > langs.index(lang) else ">"
            clauses.append(f"hits_{lang} {op} hits_{other}")
        branches.append(f"WHEN {' AND '.join(clauses)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " END"
    return {"hit_cols": hit_cols, "total": total, "top": top, "case": case}


def lang_id_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    p = lang_sql_parts(text_col)
    langs = list(LANG_MARKERS)
    return f"""
        WITH h AS (SELECT {id_col}, {p['hit_cols']} FROM {table})
        SELECT {id_col}, {', '.join(f'hits_{lang}' for lang in langs)},
               {p['case']} AS pred_lang
        FROM h
    """


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprint: md5 of normalized text plus a 60-bit
    integer prefix (join-friendly) — engine-reproducible."""
    norm = F.lower(F.col(text_col))
    digest = F.md5(norm)
    return df.select(
        F.col(id_col),
        digest.alias("fp_md5"),
        F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint").alias("fp_int"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003, the MOSS algorithm): hash every ``k``-word gram, then
    in each sliding window of ``window`` consecutive gram hashes
    select the minimum (rightmost on ties), and emit the distinct
    selected (position, hash) pairs.

    The guarantee that makes this THE local fingerprinting scheme for
    copy detection: any shared word run of at least ``window + k - 1``
    words between two documents is guaranteed to share at least one
    selected fingerprint, while storage is ~2/(window+1) of the gram
    count. The classic paper uses a rolling Rabin hash for per-gram
    cost; here each gram is hashed directly with the repo's md5-derived
    60-bit integer (engine-reproducible — the selection guarantee is
    hash-agnostic).

    Plan shape: grams EXPLODE to one row per (doc, gram position), the
    md5 evaluates per row inside whole-stage codegen, and the
    rightmost-min of each sliding window is ``min(struct(fp, -pos))``
    over a ROWS frame anchored at the window's last gram (struct
    ordering: smallest hash first, ties to the largest position = the
    MOSS rightmost rule). The previous form built the hash array and
    folded every window with higher-order-function lambdas — those
    evaluate INTERPRETED, outside codegen, and measured 5× slower at
    sf0.1 (3.6 s → 0.7 s) for identical output. The explode adds one
    exchange (grams hash-partitioned by doc for the window sort);
    partitions are bounded by document length, so the shuffle is safe
    at any corpus scale.

    Output: ``(id, pos, fp)`` exploded rows (``pos`` = 0-based gram
    index of the selected gram) — the join-ready inverted-index shape.
    Documents shorter than ``k`` words emit nothing; documents with
    fewer than ``window`` grams winnow their single short window.
    """
    from pyspark.sql import Window

    from solar_logger_spark.operators.spread import spread_small

    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1: {k}, {window}")
    # spread a single-file doc scan before the gram explode + per-gram
    # md5 (they run inside the SCAN stage — one task otherwise; the
    # window min below re-exchanges by doc either way)
    df = spread_small(df)
    toks = _toks(text_col)
    n_grams = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    rows = (
        df.select(
            F.col(id_col), toks.alias("_toks"), n_grams.alias("_ng")
        )
        .filter(F.col("_ng") > 0)
        .select(
            id_col, "_toks", "_ng",
            F.explode(
                F.sequence(F.lit(0), F.col("_ng") - 1)
            ).alias("gpos"),
        )
        .select(
            id_col, "_ng", "gpos",
            F.conv(
                F.substring(
                    F.md5(
                        F.array_join(
                            F.slice("_toks", F.col("gpos") + 1, k), " "
                        )
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint").alias("fp"),
        )
    )
    wmin = (
        Window.partitionBy(id_col)
        .orderBy("gpos")
        .rowsBetween(-(window - 1), 0)
    )
    # full windows end at gpos >= window-1; a short doc (fewer grams
    # than the window) winnows its single partial window, which is the
    # frame at its LAST gram
    return (
        rows.withColumn(
            "_sel",
            F.min(
                F.struct(F.col("fp"), (-F.col("gpos")).alias("_np"))
            ).over(wmin),
        )
        .filter(
            (F.col("gpos") >= window - 1)
            | (F.col("gpos") == F.col("_ng") - 1)
        )
        .select(
            id_col,
            (-F.col("_sel._np")).cast("int").alias("pos"),
            F.col("_sel.fp").alias("fp"),
        )
        .distinct()
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k terms per document by tf·idf (idf = ln(N / df_t)).

    Plan: one explode → (doc, term) count agg; document frequencies are
    another count agg over the same intermediate; idf join is broadcast
    (vocabulary ≪ corpus); per-doc top-k via window. Ties break on term
    so the cut is deterministic. All JVM expressions — the explode is
    the only fan-out, and both aggregations are map-side combinable.
    """
    from pyspark.sql import Window

    terms = df.select(F.col(id_col), F.explode(_toks(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # corpus size as a lazy 1-row broadcast (no eager driver action)
    n_docs = df.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("_n_docs")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.col("_n_docs") / F.col("df_t").cast("double"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation
# marks — the coarse split GPT-style tokenizers apply before merges.
# Kept to a regex dialect subset (character classes + alternation) that
# behaves identically in Java regex (Spark) and RE2 (DuckDB/others).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def vocab_encode(
    df: DataFrame,
    vocab: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "join",
) -> DataFrame:
    """Tokenize-and-encode against a fixed vocabulary: each whitespace
    token becomes its 1-based vocab id (0 = OOV) — the dictionary-
    encoding step that turns a text corpus into the integer streams a
    training pipeline ships (ids, not strings, are what get packed).

    Output: one row per token position —
    ``(id, pos, token, token_id)`` with ``pos`` 0-based; the exploded
    inverted shape that downstream packing/statistics join on.

    Two physical strategies with identical results (differential-
    tested):

    * ``method="array"`` — ``array_position`` against a literal vocab
      array inside one map stage. No shuffle, no join; per-token cost
      is O(|vocab|), so it is the right shape for small control
      vocabularies (markers, tags).
    * ``method="join"`` — posexplode + broadcast hash join against the
      vocab as a table + OOV via left join. Per-token cost O(1) after
      the broadcast: the 100 TB shape for real vocabularies (32k-256k
      entries), where the literal-array expression would be both huge
      in the plan and linear per token.
    """
    if len(set(vocab)) != len(vocab):
        raise ValueError("vocab entries must be unique")
    toks = _toks(text_col)
    exploded = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "token")
    )
    if method == "array":
        arr = F.array(*[F.lit(w) for w in vocab])
        return exploded.select(
            id_col, "pos", "token",
            F.array_position(arr, F.col("token")).cast("int")
            .alias("token_id"),
        )
    if method != "join":
        raise ValueError(f"unknown method: {method!r}")
    spark = df.sparkSession
    vdf = spark.createDataFrame(
        [(w, i + 1) for i, w in enumerate(vocab)], "token string, _vid int"
    )
    return (
        exploded.join(F.broadcast(vdf), "token", "left")
        .select(
            id_col, "pos", "token",
            F.coalesce(F.col("_vid"), F.lit(0)).cast("int")
            .alias("token_id"),
        )
    )


def bpe_apply_merges(
    df: DataFrame,
    merges: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge list — the ENCODE side completing
    the tokenizer story whose training statistic is
    ``text_bpe_merge_candidates`` (Sennrich et al. 2016, public).

    One greedy left-to-right merge round per whitespace word: scanning
    characters, if the pair starting at the cursor is in ``merges``
    emit the merged token and advance 2, else emit the single char and
    advance 1. The sequential scan has a closed form — within each
    maximal run of consecutive merge-candidate positions, merges start
    at the run head and every 2 after — so the whole encode is JVM
    array expressions (no fold, no UDF, no Python).

    Output: ``(id, pos, token, token_id)`` with ``pos`` the 1-based
    token position across the document and ``token_id`` = 256 + 1-based
    merge rank for merged pairs, the character code for singles (the
    byte-vocab + merge-table id layout GPT-style tokenizers use).

    Plan shape: the per-character work runs once per DISTINCT word,
    then a broadcast join replays token arrays onto the corpus word
    stream (a natural-language vocabulary is tiny next to 100 TB of
    text — same argument as ``vocab_encode``'s join path); the only
    corpus-sized shuffle is the per-document position window, which
    any packer downstream needs anyway."""
    merges = list(merges)
    if any(len(m) != 2 for m in merges):
        raise ValueError("merges must be 2-character pairs")
    if len(set(merges)) != len(merges):
        raise ValueError("merge entries must be unique")
    # Byte-level (ASCII) vocab contract: single-char token_ids are the
    # character code, merged pairs are 256 + rank. A codepoint >= 257
    # would collide with the merge-id space (and Spark/DuckDB ascii()
    # disagree on multibyte chars), so reject non-ASCII merges here and
    # document that input text is assumed byte-level — real BPE
    # byte-encodes the corpus first, which this operator models.
    if any(ord(c) > 127 for m in merges for c in m):
        raise ValueError(
            "merges must be ASCII pairs: token_id packs single chars as "
            "their codepoint and merges as 256+rank; codepoints >= 257 "
            "would collide (byte-level BPE assumes byte-encoded input)"
        )
    from pyspark.sql import Window

    merge_arr = F.array(*[F.lit(m) for m in merges])
    words = df.select(
        F.col(id_col), F.posexplode(_toks(text_col)).alias("word_idx", "word")
    ).filter(F.length("word") >= 1)

    L = F.length("word")
    # m[i] (1-based): the pair starting at char i is a merge candidate;
    # position L is always false (a pair cannot extend past the word)
    m = F.transform(
        F.sequence(F.lit(1), L),
        lambda i: (i < L)
        & F.array_contains(merge_arr, F.col("word").substr(i, F.lit(2))),
    )
    # ms[i]: the greedy scan MERGES at i. Closed form: i is a candidate
    # and its distance from the last non-candidate position before it
    # is odd (run head = distance 1, then every second position).
    # F.get is 0-based and null-safe — no sequence(1,0) descent trap,
    # no ANSI index-0 error (both documented Spark pitfalls).
    ms = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.get(F.col("m"), i - 1)
        & (
            (
                (
                    i
                    - F.coalesce(
                        F.array_max(
                            F.filter(
                                F.sequence(F.lit(1), F.length("word")),
                                lambda j: (j < i) & ~F.get(F.col("m"), j - 1),
                            )
                        ),
                        F.lit(0),
                    )
                )
                % 2
            )
            == 1
        ),
    )
    toks0 = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.when(
            F.get(F.col("ms"), i - 1), F.col("word").substr(i, F.lit(2))
        )
        .when(
            # consumed as the second char of the previous merge;
            # F.get(ms, -1) at i=1 is NULL -> coalesce false
            F.coalesce(F.get(F.col("ms"), i - 2), F.lit(False)),
            F.lit(None).cast("string"),
        )
        .otherwise(F.col("word").substr(i, F.lit(1))),
    )
    wtoks = (
        words.select("word")
        .distinct()
        .withColumn("m", m)
        .withColumn("ms", ms)
        .withColumn("toks", F.filter(toks0, lambda t: t.isNotNull()))
        .select("word", "toks")
    )
    # Lineage barrier, NOT an optimization knob: the downstream
    # posexplode lets Catalyst infer `size(toks) > 0`, and because
    # `toks` is a deterministic function of the grouping key `word`
    # the optimizer pushes that predicate — carrying the ENTIRE
    # inlined O(L^2) interpreted HOF expression above — below the
    # distinct onto the full corpus word stream, silently defeating
    # the once-per-distinct-word design (42 s -> ~1 s at sf0.1).
    # localCheckpoint() on the tiny vocab frame cuts the lineage so
    # the expression is evaluated exactly once per distinct word.
    wtoks = wtoks.localCheckpoint(eager=False)
    stream = words.join(F.broadcast(wtoks), "word").select(
        id_col, "word_idx", F.posexplode("toks").alias("tok_idx", "token")
    )
    win = Window.partitionBy(id_col).orderBy("word_idx", "tok_idx")
    return stream.select(
        F.col(id_col),
        F.row_number().over(win).cast("long").alias("pos"),
        "token",
        F.when(
            F.length("token") == 2,
            F.lit(256) + F.array_position(merge_arr, F.col("token")).cast("int"),
        )
        .otherwise(F.ascii("token"))
        .cast("int")
        .alias("token_id"),
    )


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """Sub-word-ish token count, JVM regexp — a closer proxy for LLM
    token budgets than whitespace words (punctuation and digit runs
    count separately)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.expr(f"regexp_extract_all({text_col}, '{BPE_ISH_PATTERN}', 0)"))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard context-window prep for LLM training/retrieval corpora.

    One row per chunk: ``(id, chunk_index, n_tokens, chunk_text)``,
    windows of ``chunk_tokens`` whitespace tokens advancing by
    ``chunk_tokens - overlap``; the final chunk may be short. All JVM:
    one ``split`` + a ``sequence``/``posexplode`` fan-out + ``slice`` —
    no Python, no shuffle (chunking is embarrassingly row-parallel, and
    stays that way at any corpus size)."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})"
        )
    step = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    exploded = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size(toks) - 1, F.lit(0)),
                F.lit(step),
            )
        ).alias("chunk_index", "_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        "chunk_index",
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25 ranking.

    Uses the log-free idf variant ``(N − df + 0.5) / (df + 0.5)`` —
    rank-equivalent to the classic ln() form for any fixed corpus, and
    built purely from IEEE +,*,/ so scores are bit-identical across
    engines (``ln`` implementations differ in the last ulp; the oracle
    could not hash-match otherwise).

    Plan: one token explode feeds both the per-(doc, term) tf counts and
    the per-term document frequencies; corpus scalars (N, avg doc
    length) are one tiny aggregate; the final score is a per-doc sum of
    ≤|query| terms then a distributed top-k. No Python, and every
    aggregation is map-side combinable — at corpus scale the cost is
    one scan + shuffles bounded by (docs × query-terms).
    """
    terms = [str(t) for t in query_terms]
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    doclen = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("double").alias("dl"),
    )
    stats = df.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("double").alias(
            "total_len"
        ),
    ).first()
    n_docs, avgdl = float(stats["n_docs"]), float(stats["total_len"]) / float(
        stats["n_docs"]
    )

    qtoks = toks.filter(F.col("term").isin(terms))
    dfreq = (
        qtoks.select(id_col, "term").distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    tf = qtoks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    idf = (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    scored = (
        tf.join(F.broadcast(dfreq.select("term", idf.alias("idf"))), "term")
        .join(doclen, id_col)
        .select(
            id_col,
            "term",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                )
            ).alias("_s"),
        )
    )
    # fixed-order fold: one conditional sum per query term (zeros are
    # exact no-ops), added left-to-right in query order — the per-doc
    # score is then independent of aggregation order, so it reproduces
    # bit-for-bit in any engine folding the same term order
    per_term = [
        F.sum(
            F.when(F.col("term") == t, F.col("_s")).otherwise(F.lit(0.0))
        ).alias(f"_s{i}")
        for i, t in enumerate(terms)
    ]
    agg = scored.groupBy(id_col).agg(*per_term)
    score = F.col("_s0")
    for i in range(1, len(terms)):
        score = score + F.col(f"_s{i}")
    return (
        agg.select(id_col, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def unigram_rarity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_below: int = 5,
) -> DataFrame:
    """Corpus-frequency quality signal: score each document by how
    common its tokens are in the WHOLE corpus — the unigram-LM quality
    filter of training-data pipelines, kept log-free so every value is
    bit-reproducible in plain SQL (same reason bm25_topk uses a raw idf
    ratio: ln() is the one piece two engines may disagree on).

    Returns per doc: ``n_tokens``, ``avg_token_count`` (mean corpus
    frequency of the doc's tokens — exact integer sum / count),
    ``rare_frac`` (share of tokens occurring fewer than ``rare_below``
    times corpus-wide; high = gibberish/noise candidate).

    Plan: token explode → ONE vocabulary count aggregation → broadcast
    join of the vocabulary onto the token stream (a natural-language
    vocabulary is tiny next to the corpus — explicitly hinted) →
    per-doc aggregation. Two shuffles total at any corpus size.
    """
    toks = df.select(F.col(id_col), F.explode(_toks(text_col)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("sum_c"),
            F.sum((F.col("c") < rare_below).cast("long")).alias("n_rare"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        (F.col("sum_c").cast("double") / F.col("n_tokens").cast("double"))
        .alias("avg_token_count"),
        (F.col("n_rare").cast("double") / F.col("n_tokens").cast("double"))
        .alias("rare_frac"),
    )


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Within-document repetition quality signals (the Gopher /
    MassiveText repetition rules, re-expressed for single-line word
    documents): per document,

    * ``top_gram_char_frac`` — characters covered by the single most
      frequent ``top_n``-gram (count × gram length / text length);
      boilerplate-heavy docs score high,
    * ``dup_gram_frac`` — fraction of ``dup_n``-gram positions whose
      gram repeats WITHIN the document (the in-doc counterpart of the
      corpus-wide ``duplicate_ngram_spans``),
    * ``unique_word_frac`` — distinct words / words.

    All JVM expressions: two (doc, gram) hash aggregations (map-side
    combinable, key cardinality ≤ token count) and per-row array ops —
    no UDF, shuffles linear in corpus size. Ties for the top gram break
    deterministically by (count, gram) struct max, mirrored in the SQL
    oracle by ORDER BY c DESC, g DESC.
    """
    from solar_logger_spark.operators.dedup import exploded_shingles, tokens

    # spread documents across cores first: the tokenize/gram work is
    # CPU-heavy per row and a small doc table arrives as ONE scan
    # partition (single file), which would serialize all three branches
    spread = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(spread)
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("_chars"),
        F.size(toks).alias("_ntok"),
        F.size(F.array_distinct(toks)).alias("_nuniq"),
    )
    g_top = exploded_shingles(df, [id_col], text_col, top_n, out_col="g")
    top = (
        g_top.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max(F.struct("c", "g")).alias("_t"))
        .select(
            F.col(id_col),
            F.col("_t.c").alias("_top_c"),
            F.col("_t.g").alias("_top_g"),
        )
    )
    dup = (
        exploded_shingles(df, [id_col], text_col, dup_n, out_col="g")
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("_pos"),
            F.sum(F.when(F.col("k") > 1, F.col("k")).otherwise(F.lit(0))).alias(
                "_dup_pos"
            ),
        )
    )
    out = base.join(top, id_col, "left").join(dup, id_col, "left")
    return out.select(
        F.col(id_col),
        (F.col("_top_c") * F.length("_top_g") / F.col("_chars")).alias(
            "top_gram_char_frac"
        ),
        (F.col("_dup_pos").cast("double") / F.col("_pos")).alias(
            "dup_gram_frac"
        ),
        (F.col("_nuniq").cast("double") / F.col("_ntok")).alias(
            "unique_word_frac"
        ),
    )


def pack_training_sequences(
    chunks: DataFrame,
    max_tokens: int,
    part_col: str,
    order_cols: Sequence[str] = ("doc_id", "chunk_index"),
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Sequence packing for pretraining batches: concatenate the chunks
    of each ``part_col`` shard (in ``order_cols`` order) into one token
    stream and split it every ``max_tokens`` — each chunk gets the
    ``seq_id`` its first token lands in and its ``seq_offset`` within
    that sequence. Chunks may straddle sequence boundaries, exactly
    like GPT-style packed pretraining data (documents are cut at
    context-window edges).

    Packing is per shard, so the analytic window partitions on
    ``part_col`` and the plan is one exchange + in-partition running
    sum — shards pack independently and in parallel at any corpus
    size (a single global stream would serialize; shard-local packing
    is what distributed pipelines do anyway, one output file per
    shard).
    """
    from pyspark.sql import Window

    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive: {max_tokens}")
    w = (
        Window.partitionBy(part_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return chunks.select(
        "*",
        F.floor(start / F.lit(max_tokens)).cast("long").alias("seq_id"),
        (start % F.lit(max_tokens)).cast("long").alias("seq_offset"),
    )


# PII patterns chosen for cross-engine regex portability: plain classes,
# bounded quantifiers, \b word boundaries — valid and identical under
# both Java regex (Spark) and RE2 (DuckDB oracles). Category order is
# the scrub order (emails first so their host dots never feed the ipv4
# pattern's boundary).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d[\d ()-]{6,}\d",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    token: str = "[PII]",
) -> DataFrame:
    """Detect-and-redact PII for training corpora: per-category match
    counts (``n_<category>`` columns) plus the ``scrubbed`` text with
    every match replaced by ``token``.

    Entirely JVM-side regex expressions (``regexp_count`` /
    ``regexp_replace`` inside whole-stage codegen) — no Python
    crossing, no shuffle; scales as a pure map over any corpus size.
    Patterns apply in dict order, which matters when one category's
    replacement could destroy another's match."""
    pats = patterns or PII_PATTERNS
    out = df
    scrubbed: Column = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}",
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long"),
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return out.withColumn("scrubbed", scrubbed)


def dsir_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for data selection (after Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling" — log-free variant): score each document by how much
    more its token mass concentrates in a *target* slice of the corpus
    (e.g. ``lang == 'en'``) than in the corpus overall::

        importance = (Σ_w tc(w) / target_total) / (Σ_w cc(w) / corpus_total)

    where ``tc(w)`` / ``cc(w)`` count word ``w`` in the target slice /
    whole corpus, summed over the document's token occurrences. Keeping
    the masses as exact integer sums and dividing once at the end makes
    the score bit-reproducible against a SQL oracle (no per-word float
    accumulation, no transcendentals — same discipline as
    ``unigram_rarity``).

    Scale shape: one vocab hash agg (map-side combined), one shuffle
    join of token occurrences to vocab on the word key, and one per-doc
    hash agg; the two corpus totals come from a separate explode-free
    counting scan collected as literals (1 row over the wire). Identical
    topology to ``unigram_rarity`` — linear in token count, no
    all-pairs, no Python.
    """
    toks = df.select(
        F.col(id_col),
        target.alias("is_t"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cc"),
        F.count_if(F.col("is_t")).alias("tc"),
    )
    doc = (
        toks.join(vocab, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tc").alias("target_mass"),
            F.sum("cc").alias("corpus_mass"),
        )
    )
    # The corpus/target token totals are plain token counts — one cheap
    # explode-free scan (sum of size(split(..)), map-side combined to a
    # 1-row result), collected eagerly and inlined as literals. This
    # keeps the main plan at the intrinsic two corpus scans
    # (vocab + join) with no scalar cross-join branch; the integer
    # totals are < 2^53 at any plausible corpus size, so the literal
    # double equals the oracle's CAST(bigint AS DOUBLE) bit-for-bit.
    n_col = F.size(F.split(F.col(text_col), " ")).cast("long")
    tot = df.select(
        n_col.alias("n"), target.alias("is_t")
    ).agg(
        F.sum("n").alias("ct"),
        F.sum(F.when(F.col("is_t"), F.col("n"))).alias("tt"),
    ).first()
    corpus_total = float(tot["ct"] or 0)
    target_total = float(tot["tt"] or 0)
    return doc.select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("target_mass").cast("long").alias("target_mass"),
        F.col("corpus_mass").cast("long").alias("corpus_mass"),
        (
            (F.col("target_mass").cast("double") * F.lit(corpus_total))
            / (F.col("corpus_mass").cast("double") * F.lit(target_total))
        ).alias("importance"),
    )


def hashed_classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Hashed-feature linear classifier scoring — the fasttext-shaped
    model-based quality filter (hash each token into one of
    ``n_buckets`` feature buckets, sum per-bucket weights, normalize):
    the standard learned replacement for heuristic quality scores in
    web-corpus pipelines.

    The weight table here is a deterministic stand-in (a fixed integer
    mix of the bucket id, in [-500, 500]); a trained model would swap in
    a broadcast weight array with the identical plan. What this
    exercises — and what matters at 100 TB — is the scoring plumbing:
    per-token hashing, bucket lookup, and accumulation are all JVM
    expressions inside one whole-stage-codegen map over the corpus
    (explode → hash agg on the doc key), no Python, no model server.

    Bit-reproducibility discipline: weights accumulate as exact
    integers; ONE final double division produces the score, so a SQL
    oracle matches bit-for-bit (token hash is the engine-portable
    md5-prefix ``dedup.token_hash``).
    """
    from solar_logger_spark.operators.dedup import token_hash

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    bucket = F.pmod(token_hash(F.col("tok")), F.lit(n_buckets))
    # Knuth multiplicative mix of the bucket id -> pseudo-weight in
    # [-500, 500]; pure 64-bit-safe integer ops, portable to any engine
    weight = F.pmod(bucket * F.lit(2654435761), F.lit(1001)) - F.lit(500)
    return (
        toks.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(weight).cast("long").alias("raw_score"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "raw_score",
            (
                F.col("raw_score").cast("double")
                / (F.lit(500.0) * F.col("n_tokens").cast("double"))
            ).alias("score"),
        )
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = 8,
    bands: Sequence[int] = (16, 32, 64, 128, 256),
    n_shards: int = 4,
    shard_col: Column | None = None,
) -> DataFrame:
    """Dynamic-padding batch assignment: group documents of similar
    token length into fixed-size training batches so each batch pads
    only to ITS longest member, not the corpus maximum — the standard
    length-bucketing trick behind efficient LLM fine-tuning loaders.

    Each document gets ``(bucket, shard, batch_idx, pad_to,
    pad_waste)``: ``bucket`` is the smallest band >= its whitespace
    token count (the last band for longer docs), ``shard`` spreads a
    bucket across ``pmod(hash(id), n_shards)`` so batch assignment
    parallelizes however few bands exist (training does not need a
    global batch order — shard-local batches are the production
    semantics), ``batch_idx`` fills batches in deterministic
    (token count, id) order, ``pad_to`` is the batch's max length and
    ``pad_waste`` the per-doc padding cost. The final (possibly
    partial) batch per (bucket, shard) is kept and marked via
    ``is_full``.

    Shapes: one shuffle to (bucket, shard) for the two windows (rank,
    batch max) — parallelism = |bands| x n_shards; raise ``n_shards``
    with cluster size. Everything is JVM window/expression work,
    deterministic; integer counts and maxima, no floats anywhere.

    ``shard_col``: override the shard expression. The default Murmur3
    ``pmod(hash(id), n_shards)`` is deterministic across Spark runs but
    NOT re-derivable in other engines — a cross-engine-audited caller
    (the declared oracle query) passes an md5-derived shard instead
    (the ``token_hash`` recipe)."""
    from pyspark.sql import Window

    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    bands = sorted(set(bands))
    if not bands:
        raise ValueError("bands must be non-empty")
    from solar_logger_spark.operators import dedup as _dedup

    n = F.size(_dedup.tokens(text_col))
    bucket = F.lit(bands[-1])
    for b in reversed(bands[:-1]):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    if shard_col is None:
        shard_col = F.pmod(F.hash(F.col(id_col)), F.lit(n_shards))
    out = df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        bucket.alias("bucket"),
        shard_col.cast("int").alias("shard"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy(
        "n_tokens", id_col
    )
    out = out.withColumn(
        "batch_idx",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )
    wb = Window.partitionBy("bucket", "shard", "batch_idx")
    return out.select(
        id_col,
        "n_tokens",
        "bucket",
        "shard",
        "batch_idx",
        F.max("n_tokens").over(wb).alias("pad_to"),
        (F.max("n_tokens").over(wb) - F.col("n_tokens")).alias("pad_waste"),
        (F.count(F.lit(1)).over(wb) == batch_size).alias("is_full"),
    )


def ngram_lm_score(
    df: DataFrame,
    train_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_model: bool = True,
) -> DataFrame:
    """N-gram language-model fluency scoring — the CCNet-style quality
    filter: train add-one-smoothed conditional n-gram probabilities on
    a reference corpus (``train_df``, default: ``df`` itself) and score
    every document by its mean in-context probability. Kept LOG-FREE
    (no perplexity exponent) so each probability is one IEEE divide of
    exact integers and the per-doc mean is a position-pinned left fold
    — bit-reproducible in plain SQL, unlike a log-likelihood sum
    (transcendentals diverge across engines; same discipline as
    unigram_rarity / bm25_topk).

    Per document (documents shorter than ``n`` tokens have no n-grams
    and drop out): ``n_ngrams``; ``lm_score`` = mean over the doc's
    n-grams, in token order, of p(w_n | w_1..w_{n-1}) =
    (count(gram)+1) / (count(context)+V) with V the training unigram
    vocabulary size; ``unseen_frac`` = share of n-grams never seen in
    training (the out-of-domain signal — a doc from another
    distribution scores high here even when its vocabulary overlaps).

    Spark shape: gram rows come from exploding the position sequence
    and reading the ``n`` words per row with ``element_at`` — all
    inside whole-stage codegen (building the struct array first with
    transform() lambdas ran interpreted, the measured-5×-slower HOF
    path); the model is TWO aggregations over the
    training gram stream (full-gram counts, then context counts derived
    from them — never a second corpus scan); scoring is a broadcast
    join of the model onto the target gram stream plus one per-doc
    aggregation. A natural-language n-gram model from a held-out
    training sample is Zipf-bounded and broadcastable; pass
    ``broadcast_model=False`` to let the join shuffle when the model
    genuinely outgrows executors. V is one bounded scalar collect
    (vocabulary-sized aggregate), the repo's standard for model
    constants (cf. bpe merge table).
    """
    if n < 2:
        raise ValueError("ngram_lm_score needs n >= 2")
    train_df = train_df if train_df is not None else df
    # A small corpus often arrives as one parquet file -> one input
    # partition, which would serialize the gram explode/join stages;
    # spread rows first (cheap: pre-explode row count).
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par)
    train_df = train_df.repartition(par)
    ws = F.split(F.col(text_col), " ")
    gram_fields = [f"w{k}" for k in range(n)]

    def gram_rows(src: DataFrame, keep: list, with_pos: bool) -> DataFrame:
        # explode the 1-based position sequence, THEN read the n words
        # per row — short docs (fewer than n tokens) drop at the filter
        base = src.select(
            *[F.col(c) for c in keep], ws.alias("_ws")
        ).filter(F.size("_ws") >= n)
        idx = base.select(
            *keep, "_ws",
            F.explode(
                F.sequence(F.lit(1), F.size("_ws") - (n - 1))
            ).alias("pos"),
        )
        cols = (
            [F.col(c) for c in keep]
            + ([F.col("pos")] if with_pos else [])
            + [
                F.element_at(F.col("_ws"), F.col("pos") + k).alias(
                    gram_fields[k]
                )
                for k in range(n)
            ]
        )
        return idx.select(*cols)

    train_grams = gram_rows(train_df, [], with_pos=False)
    c_full = train_grams.groupBy(*gram_fields).agg(
        F.count(F.lit(1)).alias("c_full")
    )
    # Barrier: c_full feeds BOTH the gram-probability join and the
    # context-count derivation, and Catalyst does not dedupe identical
    # aggregate subplans — without the lineage cut the training gram
    # aggregation (a full explode of the training corpus) executes
    # twice, once per consumer.
    c_full = c_full.localCheckpoint(eager=False)
    c_ctx = c_full.groupBy(*gram_fields[:-1]).agg(
        F.sum("c_full").alias("c_ctx")
    )
    # V as a one-row broadcast (not a driver collect): saves a whole
    # scheduler job per build — the crossJoin below carries the same
    # long count into the same integer adds, so every p is bit-equal
    # to the literal form (r13; the collect was the build's hot spot)
    # Cut like c_full: a caller that runs several actions on the scores
    # does not re-scan and re-explode the training corpus for V.
    vocab = (
        train_df.select(F.explode(ws).alias("w"))
        .agg(F.count_distinct("w").alias("_vsize"))
        .localCheckpoint(eager=False)
    )

    model_full = F.broadcast(c_full) if broadcast_model else c_full
    model_ctx = F.broadcast(c_ctx) if broadcast_model else c_ctx
    scored = (
        gram_rows(df, [id_col], with_pos=True)
        .join(model_full, on=gram_fields, how="left")
        .join(model_ctx, on=gram_fields[:-1], how="left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p",
            (F.coalesce(F.col("c_full"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.coalesce(F.col("c_ctx"), F.lit(0))
               + F.col("_vsize")).cast("double"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "p"))),
                lambda s: s["p"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_sum_p"),
        F.sum(F.col("c_full").isNull().cast("long")).alias("_unseen"),
    )
    return agg.select(
        id_col,
        "n_ngrams",
        (F.col("_sum_p") / F.col("n_ngrams").cast("double"))
        .alias("lm_score"),
        (F.col("_unseen").cast("double") / F.col("n_ngrams").cast("double"))
        .alias("unseen_frac"),
    )
