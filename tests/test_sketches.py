"""Mergeable HLL sketches: error bounds vs exact, and the load-bearing
invariant — a union of per-partition sketches equals sketching the
whole input directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from solar_logger_spark.io.tables import load_table
from solar_logger_spark.operators import sketches


def test_estimate_within_hll_error(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    sk = sketches.distinct_sketches(events, ["event_type"], "user_id")
    got = {
        r.event_type: r.approx_distinct
        for r in sketches.union_estimate(sk, ["event_type"]).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(got[k] - n) / n < 0.05, (k, got[k], n)


def test_union_of_partial_sketches_equals_direct(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = sketches.distinct_sketches(events, ["event_type", "day"], "user_id")
    via_union = {
        r.event_type: r.approx_distinct
        for r in sketches.union_estimate(daily, ["event_type"]).collect()
    }
    direct_sk = sketches.distinct_sketches(events, ["event_type"], "user_id")
    direct = {
        r.event_type: r.approx_distinct
        for r in sketches.union_estimate(direct_sk, ["event_type"]).collect()
    }
    assert via_union == direct  # register merge is exact, not approximate


def test_cms_never_undercounts_and_merges(spark, sf_dir):
    """CMS point estimates are >= exact counts (one-sided error), the
    per-day merge is identical to sketching the whole table directly,
    and small-cardinality keys are collision-free (estimate == exact)."""
    from pyspark.sql import functions as F

    from solar_logger_spark.io.tables import load_table
    from solar_logger_spark.operators import sketches

    events = load_table(spark, sf_dir, "events")
    exact = {
        r.user_id: r.cnt
        for r in events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    direct = sketches.cms_table(events, "user_id", width=256)
    keys = events.select("user_id").distinct()
    est = {
        r.user_id: r.est_count
        for r in sketches.cms_estimate(
            direct, keys, "user_id", width=256
        ).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)

    daily = sketches.cms_table(
        events.withColumn("day", F.to_date("ts")),
        "user_id", group_cols=["day"], width=256,
    )
    merged = sketches.cms_merge(daily)
    rows_direct = {
        (r.row, r.bucket): r.cnt for r in direct.collect()
    }
    rows_merged = {
        (r.row, r.bucket): r.cnt for r in merged.collect()
    }
    assert rows_direct == rows_merged

    # 5 event_type keys in width 8192: collision-free, estimate exact
    et_exact = {
        r.event_type: r.cnt
        for r in events.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    et_sketch = sketches.cms_table(events, "event_type")
    et_est = {
        r.event_type: r.est_count
        for r in sketches.cms_estimate(
            et_sketch, events.select("event_type").distinct(), "event_type"
        ).collect()
    }
    assert et_est == et_exact


def test_distinct_users_daily_query_error_pinned(spark):
    from solar_logger_spark.queries.scale_ops import (
        sketch_distinct_users_daily,
    )

    rows = sketch_distinct_users_daily(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows, "query returned no groups"
    for r in rows:
        assert r.exact_distinct > 0
        # the declared output IS the accuracy contract: the merged-HLL
        # estimate must sit inside the 5% envelope per group
        assert r.within_5pct, r.event_type


def test_sketch_quantiles_bound_flags(spark, tmp_path):
    """GK rank-bound flags are TRUE on a real distribution, and the
    exact percentiles match a numpy reference."""
    import numpy as np
    import datetime as dt
    from pyspark.sql import Row
    from solar_logger_spark.queries.scale_ops import sketch_quantiles_events

    rng = np.random.RandomState(3)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i, v in enumerate(rng.lognormal(3.0, 1.0, 2000)):
        rows.append(Row(event_id=i, ts=t0, user_id=int(i % 7),
                        event_type="click" if i % 2 else "view",
                        value=float(v), props="{}"))
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in
           sketch_quantiles_events(spark, str(tmp_path)).collect()}
    assert set(out) == {"click", "view"}
    for et, r in out.items():
        assert r.q50_ok and r.q95_ok and r.q99_ok
        vals = np.array([row.value for row in rows
                         if row.event_type == et])
        assert abs(r.p50 - np.percentile(vals, 50)) < 1e-9
        assert abs(r.p99 - np.percentile(vals, 99)) < 1e-9
        assert r.n == len(vals)


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from pyspark.sql import Row
    from solar_logger_spark.operators import sketches as SK

    members = spark.createDataFrame([Row(k=i) for i in range(0, 200)])
    probe = spark.createDataFrame([Row(k=i) for i in range(0, 1000)])
    # small m forces observable false positives; k=3 hashes
    bits = SK.bloom_bits(members, "k", m=512, k=3)
    out = {r.k: r.might_contain
           for r in SK.bloom_might_contain(probe, bits, "k", m=512, k=3).collect()}
    # no false negatives, ever
    assert all(out[i] for i in range(200))
    fps = sum(1 for i in range(200, 1000) if out[i])
    # (1 - e^(-3*200/512))^3 ~ 0.33 -> expect some but not all
    assert 0 < fps < 800
    # filters merge by plain union-distinct
    m1 = SK.bloom_bits(spark.createDataFrame([Row(k=i) for i in range(100)]), "k", m=512)
    m2 = SK.bloom_bits(spark.createDataFrame([Row(k=i) for i in range(100, 200)]), "k", m=512)
    merged = m1.union(m2).distinct()
    direct = {r.bit for r in SK.bloom_bits(members, "k", m=512).collect()}
    assert {r.bit for r in merged.collect()} == direct


def test_bloom_duplicate_and_null_probes(spark):
    """The review-found edge cases: duplicate probe keys must not turn
    members into false negatives, duplicate bits rows must not either,
    and NULL probe keys come back with might_contain=false instead of
    vanishing."""
    from solar_logger_spark.operators import sketches as SK

    members = spark.createDataFrame([(i,) for i in range(10)], "k long")
    bits = SK.bloom_bits(members, "k", m=512, k=3)
    probe = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (None,)], "k long"
    )
    out = SK.bloom_might_contain(probe, bits, "k", m=512, k=3).collect()
    assert len(out) == 5  # every probe row survives, including NULL
    got = {}
    for r in out:
        got.setdefault(r.k, set()).add(r.might_contain)
    assert got[1] == {True} and got[2] == {True}
    assert got[None] == {False}
    # duplicated bits side (plain union instead of union-distinct)
    out2 = SK.bloom_might_contain(
        spark.createDataFrame([(1,)], "k long"), bits.union(bits),
        "k", m=512, k=3,
    ).collect()
    assert out2[0].might_contain is True


def test_bloom_prefilter_map_only_and_complete(spark):
    """bloom_prefilter keeps every true member (no false negatives),
    prunes most non-members, and — in the bitmask-literal regime
    (m <= _BLOOM_MASK_MAX_M) — its physical plan is a pure map-side
    filter: no join, no broadcast, no exchange of the probe side."""
    from solar_logger_spark.operators import sketches as SK

    members = spark.createDataFrame([(i,) for i in range(100)], "k long")
    bits = SK.bloom_bits(members, "k", m=4096, k=3)
    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(1000)] + [(None, -1)], "k long, v long"
    )
    kept = SK.bloom_prefilter(fact, bits, "k", m=4096, k=3)
    rows = kept.collect()
    got = {r.k for r in rows}
    assert set(range(100)) <= got          # all members survive
    assert len(got) < 400                  # most non-members pruned
    assert None not in got                 # NULL keys dropped
    assert kept.columns == ["k", "v"]      # helper columns removed
    plan = kept._jdf.queryExecution().executedPlan().toString()
    # mask regime: the whole prefilter is one Filter inside the probe
    # side's own stage — nothing to join, broadcast, or exchange
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_bloom_prefilter_join_regime_above_mask_cap(spark):
    """Above _BLOOM_MASK_MAX_M the dense mask would outweigh the bit
    rows, so the broadcast-join probe is kept; results stay complete
    and the probe side is still never exchanged."""
    import re

    from solar_logger_spark.operators import sketches as SK

    m = SK._BLOOM_MASK_MAX_M * 2
    members = spark.createDataFrame([(i,) for i in range(50)], "k long")
    bits = SK.bloom_bits(members, "k", m=m, k=3)
    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(500)] + [(None, -1)], "k long, v long"
    )
    kept = SK.bloom_prefilter(fact, bits, "k", m=m, k=3)
    got = {r.k for r in kept.collect()}
    assert set(range(50)) <= got
    assert None not in got
    assert kept.columns == ["k", "v"]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"Exchange hashpartitioning.*\bk\b", plan)


def test_bloom_prefilter_mask_equals_join_form(spark):
    """The bitmask-literal probe keeps EXACTLY the rows the
    broadcast-join probe keeps — same bits, same positions, same
    false-positive set (the mask is a representation change, not a
    semantic one)."""
    from solar_logger_spark.operators import sketches as SK

    members = spark.createDataFrame(
        [(i * 7,) for i in range(64)], "k long"
    )
    m, k = 1024, 3
    bits = SK.bloom_bits(members, "k", m=m, k=k)
    fact = spark.createDataFrame(
        [(i,) for i in range(2000)], "k long"
    )
    mask_kept = {
        r.k for r in SK.bloom_prefilter(fact, bits, "k", m=m, k=k).collect()
    }
    # replicate the join form inline (the pre-r12 implementation)
    from pyspark.sql import functions as F

    pos = SK._bloom_positions(F.col("k"), m, k)
    out = fact.select(
        "k", *[pos[s].alias(f"_bp{s}") for s in range(k)]
    )
    b = bits.select("bit").distinct()
    for s in range(k):
        out = out.join(
            F.broadcast(b.select(F.col("bit").alias(f"_bp{s}"))),
            f"_bp{s}",
        )
    join_kept = {r.k for r in out.select("k").collect()}
    assert mask_kept == join_kept


def test_bloom_prefilter_xxh64_scheme(spark):
    """The r12 integer position scheme: build+probe with
    scheme="xxh64" keeps every true member (no false negatives),
    prunes most non-members, stays join/exchange-free in the mask
    regime, and positions stay in [0, m) (xxhash64 is signed — pmod
    must fold negatives). The md5 default is untouched: same inputs
    under the default scheme still produce the md5-chain positions."""
    from solar_logger_spark.operators import sketches as SK

    members = spark.createDataFrame([(i,) for i in range(100)], "k long")
    m, k = 4096, 3
    bits = SK.bloom_bits(members, "k", m=m, k=k, scheme="xxh64")
    got_bits = [r.bit for r in bits.collect()]
    assert got_bits and all(0 <= b < m for b in got_bits)
    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(3000)] + [(None, -1)], "k long, v long"
    )
    kept = SK.bloom_prefilter(fact, bits, "k", m=m, k=k, scheme="xxh64")
    got = {r.k for r in kept.collect()}
    assert set(range(100)) <= got          # no false negatives
    assert len(got) < 1500                 # prunes most non-members
    assert None not in got                 # NULL keys dropped
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    # default scheme unchanged: md5 and xxh64 filters differ
    md5_bits = {r.bit for r in SK.bloom_bits(members, "k", m=m, k=k).collect()}
    assert md5_bits != set(got_bits)
    import pytest

    with pytest.raises(ValueError, match="scheme"):
        SK.bloom_bits(members, "k", m=m, k=k, scheme="fnv")


def test_bloom_prefilter_rejects_reserved_column_clash(spark):
    """An input already carrying a _bp0 column would ambiguate the
    positional helper joins; the guard must refuse loudly."""
    import pytest
    from solar_logger_spark.operators import sketches as SK

    members = spark.createDataFrame([(1,)], "k long")
    bits = SK.bloom_bits(members, "k", m=64, k=2)
    fact = spark.createDataFrame([(1, 9)], "k long, _bp0 long")
    with pytest.raises(ValueError, match="_bp0"):
        SK.bloom_prefilter(fact, bits, "k", m=64, k=2)
