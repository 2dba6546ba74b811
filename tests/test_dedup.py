"""Dedup operator semantics on hand-built corpora."""

import pytest
from pyspark.sql import Row

from solar_logger_spark.operators import dedup


def _lev(a, b):
    """Reference Levenshtein for differential tests."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox jumps over the sleepy dog"),        # near dup of 0
    (3, "completely different text about spark query engines"),
    (4, "a b"),                                                  # shorter than shingle
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS]
    )


def test_exact_dedup_keeps_min_id(docs):
    out = {r.doc_id: r.dup_count for r in
           dedup.exact_dedup(docs, ["text"]).collect()}
    assert out[0] == 2           # doc 0 survives for the 0/1 pair
    assert 1 not in out
    assert out[3] == 1


def test_exploded_shingles_matches_array_form(spark):
    """The explode-first gram builder (r10 codegen rewrite) must emit
    exactly the rows of ``explode(shingle_array(...))`` on adversarial
    text: empty strings, single words, repeated spaces (empty tokens),
    docs exactly at/below the window, duplicated grams, and a
    pos_col check against posexplode."""
    import random

    from pyspark.sql import functions as F

    random.seed(7)
    words = ["a", "bb", "ccc", "a", ""]
    rows = [("", ), (" ", ), ("a", ), ("a b", ), ("a b c", )]
    for i in range(40):
        k = random.randint(0, 12)
        rows.append((" ".join(random.choice(words) for _ in range(k)),))
    df = spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(rows)], "doc_id long, text string"
    )
    for n in (1, 2, 3, 5):
        old = df.select(
            "doc_id",
            F.posexplode(dedup.shingle_array("text", n)).alias(
                "pos", "shingle"
            ),
        ).collect()
        new = dedup.exploded_shingles(
            df, ["doc_id"], "text", n, pos_col="pos"
        ).collect()
        assert sorted(map(tuple, old)) == sorted(map(tuple, new)), n


def test_exploded_shingles_rejects_column_clashes(spark):
    """Reserved helpers (_t/_n/_i), keep-vs-output collisions, and
    pos_col == out_col are all named errors (ADVICE r10) — a silent
    duplicate-named column poisons every downstream select."""
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="reserved helper"):
        dedup.exploded_shingles(df, ["_t"], "text", 2)
    with pytest.raises(ValueError, match="reserved helper"):
        dedup.exploded_shingles(df, ["doc_id"], "text", 2, out_col="_i")
    with pytest.raises(ValueError, match="duplicate-named"):
        dedup.exploded_shingles(df, ["doc_id"], "text", 2, out_col="doc_id")
    with pytest.raises(ValueError, match="duplicate-named"):
        dedup.exploded_shingles(
            df, ["doc_id"], "text", 2, pos_col="doc_id"
        )
    with pytest.raises(ValueError, match="duplicate-named"):
        dedup.exploded_shingles(
            df, ["doc_id"], "text", 2, pos_col="gram", out_col="gram"
        )


def test_shingles_window_and_short_doc(docs):
    sh = dedup.doc_shingles(docs).collect()
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    assert "the quick brown" in by_doc[0]
    assert "over the lazy" in by_doc[0]
    # 9 tokens → 7 trigrams, 'the' repeats but sets are distinct
    assert len(by_doc[0]) == 7
    assert 4 not in by_doc   # 2 tokens < n → no shingles


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {(r.a_id, r.b_id): r.jaccard for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_agrees_with_exact(docs):
    exact = {(r.a_id, r.b_id) for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    lsh = {(r.a_id, r.b_id) for r in
           dedup.minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert lsh == exact  # high-sim pairs must survive banding + verify


def test_simhash_identical_docs_equal_fingerprints(docs):
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]
    # near-dup docs: small hamming distance
    ham = bin(fp[0] ^ fp[2]).count("1")
    assert ham <= 20


def test_stop_shingle_filter(docs):
    # with max_shingle_df=1 every shared shingle is dropped → no pairs
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.1,
                                     max_shingle_df=1).count() == 0


def test_duplicate_ngram_spans_hand_computed(spark):
    from solar_logger_spark.operators.dedup import duplicate_ngram_spans

    docs = spark.createDataFrame(
        [
            # doc 0 and 1 share their full 5-token text → every gram dup
            (0, "a b c d e"),
            (1, "a b c d e"),
            # doc 2: 6 tokens → 2 grams, none repeated anywhere
            (2, "f g h i j k"),
            # doc 3: too short for a 5-gram
            (3, "x y"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in duplicate_ngram_spans(docs, n=5, keep_threshold=0.5).collect()
    }
    assert len(rows) == 4
    assert rows[0].n_ngrams == 1 and rows[0].n_dup == 1
    assert rows[0].dup_frac == 1.0 and rows[0].keep is False
    assert rows[1].dup_frac == 1.0 and rows[1].keep is False
    assert rows[2].n_ngrams == 2 and rows[2].n_dup == 0
    assert rows[2].dup_frac == 0.0 and rows[2].keep is True
    # short doc: no grams, null fraction, kept
    assert rows[3].n_ngrams == 0 and rows[3].dup_frac is None
    assert rows[3].keep is True


def test_duplicate_ngram_spans_within_doc_repeat(spark):
    from solar_logger_spark.operators.dedup import duplicate_ngram_spans

    # the same 3-gram twice INSIDE one doc counts as duplicated too
    docs = spark.createDataFrame(
        [(0, "p q r p q r"), (1, "s t u v w")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r for r in duplicate_ngram_spans(docs, n=3).collect()
    }
    # grams of doc 0: "p q r", "q r p", "r p q", "p q r" → 4 positions,
    # 2 of them the repeated "p q r"
    assert rows[0].n_ngrams == 4 and rows[0].n_dup == 2
    assert rows[0].dup_frac == 0.5


def test_benchmark_contamination_flags_shared_ngrams(spark):
    from pyspark.sql import Row

    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f"),      # contains bench 4-gram
            Row(doc_id=1, text="x y z w v u"),      # clean
            Row(doc_id=2, text="c d e f g h"),      # shares c d e f
            Row(doc_id=3, text="short"),            # < n tokens
        ]
    )
    bench = spark.createDataFrame([Row(doc_id=9, text="q q c d e f q")])
    out = {
        r.doc_id: r
        for r in dedup.benchmark_contamination(corpus, bench, n=4).collect()
    }
    assert out[0].contaminated and out[0].n_contaminated == 1
    assert out[2].contaminated  # "c d e f" shared
    assert not out[1].contaminated and out[1].n_grams == 3
    assert out[3].n_grams == 0 and not out[3].contaminated
    assert len(out) == 4


def test_remove_duplicate_spans_surgical(spark):
    """Only tokens covered by a corpus-duplicated n-gram are removed;
    unique text survives verbatim."""
    from pyspark.sql import Row

    from solar_logger_spark.operators import dedup as D

    boiler = "x1 x2 x3 x4 x5"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"alpha beta {boiler} gamma delta"),
            Row(doc_id=1, text=f"uniq1 uniq2 {boiler} uniq3 uniq4"),
            Row(doc_id=2, text="all original words here stay put"),
            Row(doc_id=3, text="tiny doc"),  # shorter than n: untouched
        ]
    )
    out = {
        r.doc_id: r
        for r in D.remove_duplicate_spans(docs, n=5).collect()
    }
    assert out[0].clean_text == "alpha beta gamma delta"
    assert out[0].n_removed == 5
    assert out[1].clean_text == "uniq1 uniq2 uniq3 uniq4"
    assert out[2].clean_text == "all original words here stay put"
    assert out[2].n_removed == 0
    assert out[3].clean_text == "tiny doc" and out[3].n_removed == 0


def test_remove_duplicate_spans_differential(spark):
    """Differential vs a brute-force python reference over a random
    small-alphabet corpus (forced collisions), one Spark job for all
    docs: covered sets, counts, and the reconstructed strings must
    match exactly."""
    import random

    from pyspark.sql import Row

    from solar_logger_spark.operators import dedup as D

    rng = random.Random(13)
    n = 4
    docs = []
    for d in range(40):
        length = rng.randrange(0, 30)
        docs.append(
            (d, " ".join(rng.choice("ab") + str(rng.randrange(4))
                         for _ in range(length)))
        )

    # brute force
    from collections import Counter

    gram_count: Counter = Counter()
    toks = {d: (t.split(" ") if t else [""]) for d, t in docs}
    grams = {}
    for d, t in docs:
        ws = toks[d]
        gs = [
            " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
        ] if len(ws) >= n else []
        grams[d] = gs
        gram_count.update(gs)
    expected = {}
    for d, t in docs:
        ws = toks[d]
        covered = set()
        for i, g in enumerate(grams[d]):
            if gram_count[g] > 1:
                covered.update(range(i, i + n))
        clean = " ".join(w for i, w in enumerate(ws) if i not in covered)
        expected[d] = (len(ws), len(covered), clean)

    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in D.remove_duplicate_spans(
            spark.createDataFrame(
                [Row(doc_id=d, text=t) for d, t in docs]
            ),
            n=n,
        ).collect()
    }
    assert out == expected


def test_editdistance_pairs_brute_force_parity(spark):
    """Length-banded blocked pairs == brute-force all-pairs filter,
    including pairs that straddle adjacent length buckets, with no
    duplicate emissions from the replication trick."""
    import itertools

    texts = [
        "aaaa",           # len 4
        "aaab",           # dist 1 to above, same bucket at w=4
        "aaaabbb",        # len 7: straddles bucket 0(4..)/1 vs len 8
        "aaaabbbc",       # len 8: next bucket at w=4, dist 1 to above
        "zzzzzzzzzzzz",   # far from everything
        "aaaa",           # exact dup of 0 -> dist 0
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    d = 4
    want = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(texts), 2):
        dist = _lev(a, b)
        if dist <= d:
            want[(i, j)] = dist
    for method in ("band", "edjoin"):
        got = {
            (r.a_id, r.b_id): r.dist
            for r in dedup.editdistance_pairs(
                df, block_col=None, max_dist=d, band_width=d,
                method=method,
            ).collect()
        }
        assert got == want, method
        # straddle pair (len 7 vs len 8 across the w=4 bucket edge)
        assert (2, 3) in got and got[(2, 3)] == 1
        # no duplicate emissions (dict-collapse would hide them)
        rows = dedup.editdistance_pairs(
            df, block_col=None, max_dist=d, band_width=d, method=method
        ).collect()
        assert len(rows) == len(got), method


def test_editdistance_band_width_guard(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="abc")])
    with pytest.raises(ValueError, match="band_width"):
        dedup.editdistance_pairs(df, block_col=None, max_dist=8, band_width=4)


def test_editdistance_blocking_respects_block_col(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="same text", lang="en"),
            Row(doc_id=1, text="same text", lang="de"),  # other language
            Row(doc_id=2, text="same text", lang="en"),
        ]
    )
    got = {(r.a_id, r.b_id) for r in
           dedup.editdistance_pairs(df, max_dist=2).collect()}
    assert got == {(0, 2)}


def test_containment_catches_partial_copy(spark):
    big = "w " + " ".join(f"t{i}" for i in range(40))
    small = " ".join(f"t{i}" for i in range(12))   # fully inside big
    df = spark.createDataFrame(
        [Row(doc_id=0, text=big), Row(doc_id=1, text=small),
         Row(doc_id=2, text="x y z entirely other words here now")]
    )
    rows = {(r.a_id, r.b_id): r for r in
            dedup.containment_pairs(df, threshold=0.8).collect()}
    assert set(rows) == {(0, 1)}
    r = rows[(0, 1)]
    # every trigram of `small` appears in `big` -> containment 1.0
    assert r.containment == 1.0 and r.c_b_in_a == 1.0 and r.c_a_in_b < 0.5
    # symmetric Jaccard on the same pair is well under 0.5: the case
    # containment exists for
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()
    j = {(x.a_id, x.b_id): x.jaccard for x in jac}[(0, 1)]
    assert j < 0.3


def test_editdistance_edjoin_random_parity(spark):
    """Randomized differential check: edjoin == band == brute force on
    a corpus of mutated strings (seeded, deterministic)."""
    import itertools
    import random

    rng = random.Random(7)
    base = ["".join(rng.choice("abcd") for _ in range(rng.randint(4, 30)))
            for _ in range(12)]
    texts = list(base)
    for t in base[:6]:  # mutated near-dups
        chars = list(t)
        for _ in range(rng.randint(1, 3)):
            op = rng.choice("sid")
            pos = rng.randrange(len(chars)) if chars else 0
            if op == "s" and chars:
                chars[pos] = rng.choice("abcd")
            elif op == "i":
                chars.insert(pos, rng.choice("abcd"))
            elif op == "d" and len(chars) > 1:
                del chars[pos]
        texts.append("".join(chars))

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    d = 3
    want = {
        (i, j): dist
        for (i, a), (j, b) in itertools.combinations(enumerate(texts), 2)
        if (dist := _lev(a, b)) <= d
    }
    assert want  # the mutation loop must actually produce close pairs
    for method in ("edjoin", "band"):
        got = {
            (r.a_id, r.b_id): r.dist
            for r in dedup.editdistance_pairs(
                df, block_col=None, max_dist=d, method=method
            ).collect()
        }
        assert got == want, method


def test_editdistance_dense_band_cap(spark):
    """dense_band_cap semantics: EXACT (identical full pair set) when
    every band is at or under the cap; deterministic text-sorted
    neighborhood above it — adjacent-in-order near-dups survive, and
    the output is a subset of the uncapped pairs with correct
    distances."""
    import itertools
    import random

    rng = random.Random(11)
    # one dense band: 40 same-length strings, incl. mutated near-dups
    base = ["".join(rng.choice("abcd") for _ in range(24)) for _ in range(30)]
    texts = list(base)
    for t in base[:10]:
        chars = list(t)
        chars[rng.randrange(24)] = rng.choice("abcd")
        texts.append("".join(chars))
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    d = 3
    want = {
        (i, j): dist
        for (i, a), (j, b) in itertools.combinations(enumerate(texts), 2)
        if (dist := _lev(a, b)) <= d
    }
    assert want
    # cap ABOVE the band size: bit-identical to the uncapped path
    exact = {
        (r.a_id, r.b_id): r.dist
        for r in dedup.editdistance_pairs(
            df, block_col=None, max_dist=d, method="band",
            dense_band_cap=4096,
        ).collect()
    }
    assert exact == want
    # cap BELOW the band size: bounded subset, correct distances, no
    # duplicate emissions; a generous window keeps full coverage here
    # (every doc is within 64 successors of every other)
    rows = dedup.editdistance_pairs(
        df, block_col=None, max_dist=d, method="band",
        dense_band_cap=8, dense_band_window=64,
    ).collect()
    capped = {(r.a_id, r.b_id): r.dist for r in rows}
    assert len(rows) == len(capped)  # no dupes
    assert capped == want  # window covers the whole band
    # a tight window returns a strict, still-correct subset
    tight = {
        (r.a_id, r.b_id): r.dist
        for r in dedup.editdistance_pairs(
            df, block_col=None, max_dist=d, method="band",
            dense_band_cap=8, dense_band_window=2,
        ).collect()
    }
    assert set(tight) <= set(want)
    assert all(want[k] == v for k, v in tight.items())


def test_editdistance_null_block_values_match_both_methods(spark):
    """NULL block values must behave identically in both candidate
    generators: NULL == NULL for blocking (same as the eqNullSafe
    verification filter), regardless of string length."""
    long_a = "m" * 60
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="same text", lang=None),
            Row(doc_id=1, text="same text", lang=None),
            Row(doc_id=2, text="same text", lang="en"),
            Row(doc_id=3, text=long_a, lang=None),      # long stratum
            Row(doc_id=4, text=long_a + "x", lang=None),
        ]
    )
    want = {(0, 1), (3, 4)}
    for method in ("band", "edjoin"):
        got = {(r.a_id, r.b_id) for r in dedup.editdistance_pairs(
            df, max_dist=2, method=method).collect()}
        assert got == want, method


def test_remove_benchmark_spans_surgical(spark):
    """Only benchmark-overlapping spans are removed; corpus-internal
    duplication is untouched (that's remove_duplicate_spans' job)."""
    from pyspark.sql import Row

    leak = "b1 b2 b3 b4"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"alpha beta {leak} gamma delta"),
            # corpus-internal dup of doc 0's frame, but NOT in bench:
            Row(doc_id=1, text=f"alpha beta {leak} gamma delta"),
            Row(doc_id=2, text="all clean words here stay put"),
            Row(doc_id=3, text="tiny"),
        ]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=9, text=f"prefix {leak} suffix words here")]
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_benchmark_spans(docs, bench, n=4).collect()
    }
    # the 4-gram "b1 b2 b3 b4" is in bench -> its tokens go; the
    # surrounding unique words survive
    assert out[0].clean_text == "alpha beta gamma delta"
    assert out[0].n_removed == 4
    assert out[1].clean_text == "alpha beta gamma delta"  # same overlap
    assert out[2].clean_text == "all clean words here stay put"
    assert out[2].n_removed == 0
    assert out[3].clean_text == "tiny" and out[3].n_removed == 0


def test_containment_random_differential(spark):
    """containment_pairs == brute-force shingle-set computation over a
    random small-vocab corpus (seeded): values exact, both directions."""
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))
             for _ in range(30)]
    # force some partial copies: doc i+30 embeds doc i's text
    for i in range(5):
        texts.append(texts[i] + " " + " ".join(rng.choice(vocab)
                                               for _ in range(8)))
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )

    def shingles(t, n=3):
        ws = t.split(" ")
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            c = max(inter / len(sa), inter / len(sb))
            if c >= 0.8:
                want[(a, b)] = (c, inter / len(sa), inter / len(sb))

    got = {
        (r.a_id, r.b_id): (r.containment, r.c_a_in_b, r.c_b_in_a)
        for r in dedup.containment_pairs(df, threshold=0.8).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for x, y in zip(got[k], want[k]):
            assert x == y, (k, got[k], want[k])
    assert any(k[1] >= 30 for k in got)  # the planted partial copies hit


def test_incremental_lsh_random_differential(spark):
    """incremental_lsh_pairs == brute-force cross-side Jaccard on a
    seeded random corpus with planted near-dups: only (batch, index)
    pairs appear (never index x index or batch x batch), values exact."""
    import random

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(10)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(8, 30)))
             for _ in range(40)]
    # planted: batch docs 100..104 are 1-word edits of index docs 0..4
    for i in range(5):
        ws = texts[i].split(" ")
        ws[len(ws) // 2] = "EDIT"
        texts.append(" ".join(ws))
    ids = list(range(40)) + list(range(100, 105))
    df = {i: t for i, t in zip(ids, texts)}
    index = spark.createDataFrame(
        [Row(doc_id=i, text=df[i]) for i in ids if i < 100]
    )
    batch = spark.createDataFrame(
        [Row(doc_id=i, text=df[i]) for i in ids if i >= 100]
    )

    def shingles(t, n=3):
        ws = t.split(" ")
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    want = {}
    for b in (i for i in ids if i >= 100):
        for a in (i for i in ids if i < 100):
            sa, sb = shingles(df[a]), shingles(df[b])
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            if union and inter / union >= 0.5:
                want[(b, a)] = inter / union

    got = {
        (r.batch_id, r.index_id): r.jaccard
        for r in dedup.incremental_lsh_pairs(
            index, batch, threshold=0.5
        ).collect()
    }
    assert got == want
    # most planted edits stay above the 0.5 threshold (a mid-word edit
    # on a short doc can legitimately drop below it)
    assert len(want) >= 4
    assert all(b >= 100 > a for (b, a) in got)


def test_shingle_df_guard_keeps_true_neardups_and_prunes_collisions(spark):
    """max_shingle_df engaged at ~1% of docs must report the SAME true
    near-dup pairs as the unguarded run (their signal lives in rare
    shingles) while collapsing the boilerplate-driven pair blow-up:
    docs sharing only corpus-common shingles stop pairing at all."""
    n_docs = 120
    boiler = "subscribe to our newsletter today for updates"
    docs = {}
    for i in range(n_docs):
        body = " ".join(f"u{i}w{j}" for j in range(25))
        docs[i] = body + " " + boiler
    for i in range(5):  # planted near-dups: one-word edits
        ws = docs[i].split(" ")
        ws[5] = "EDIT"
        docs[1000 + i] = " ".join(ws)
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in docs.items()]
    )
    planted = {(i, 1000 + i) for i in range(5)}
    guard = max(2, int(0.01 * len(docs)))  # df > ~1% of docs is stop-shingle

    got_un = {
        (r.a_id, r.b_id)
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    got_gd = {
        (r.a_id, r.b_id)
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.5, max_shingle_df=guard
        ).collect()
    }
    assert got_un == planted
    assert got_gd == planted  # zero recall cost on the true near-dups

    # pair-generation blow-up, thresholds out of the way: the unguarded
    # inverted index pairs EVERY doc with EVERY doc through the 5
    # boilerplate shingles; the guard leaves only the planted
    # neighborhoods (their shared shingles have df = 2)
    n = len(docs)
    all_un = dedup.ngram_jaccard_pairs(df, threshold=0.0).count()
    all_gd = dedup.ngram_jaccard_pairs(
        df, threshold=0.0, max_shingle_df=guard
    ).count()
    assert all_un == n * (n - 1) // 2
    assert all_gd == len(planted)
