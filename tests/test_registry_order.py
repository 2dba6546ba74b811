"""Driver-budget registry ordering computed from CORRECTNESS records."""

import __spark_entry__ as em

GREEN = {
    "rows_match": True,
    "schema_match": True,
    "hash_match": True,
    "err": None,
}
RED = {
    "rows_match": True,
    "schema_match": True,
    "hash_match": False,
    "err": None,
}
ERR = {
    "rows_match": False,
    "schema_match": False,
    "hash_match": False,
    "err": "boom",
}


def _order(out, records):
    return list(em._registry_order(out, records=records))


def test_never_checked_comes_first():
    out = {"a": 1, "b": 2, "c": 3}
    got = _order(out, {1: {"a": GREEN, "b": GREEN}})
    assert got[0] == "c" and set(got) == {"a", "b", "c"}


def test_latest_red_outranks_everything():
    # "new" is a synthetic name not in oracle_sql() -> rows-only class;
    # a standing red record outranks even oracle-backed never-checked
    # names: in the final record a red row reads as a live failure, so
    # re-checks must never be starved out of the driver budget by a
    # stream of new additions
    out = {"new": 1, "fixed": 2, "ok": 3, "tpch_q1_pricing_summary": 4}
    records = {1: {"fixed": GREEN, "ok": GREEN}, 2: {"fixed": ERR, "ok": GREEN}}
    assert _order(out, records) == [
        "fixed",
        "tpch_q1_pricing_summary",
        "new",
        "ok",
    ]


def test_red_then_regreened_is_settled():
    out = {"q": 1, "other": 2}
    records = {1: {"q": RED, "other": GREEN}, 2: {"q": GREEN}}
    # latest row green -> both settled: original insertion order
    assert _order(out, records) == ["q", "other"]


def test_stable_within_class():
    out = {"x": 1, "y": 2, "z": 3}
    assert _order(out, {}) and _order(out, {})[:3] == _order(out, {})


def test_real_registry_is_complete_permutation():
    q = em.queries()
    # ordering is a pure permutation: nothing dropped, nothing invented
    assert len(q) == len(set(q))
    again = em.queries()
    assert list(q) == list(again)


def test_oracle_backed_lead_within_never_checked():
    # synthetic names are not in oracle_sql(), so both land in the
    # rows-only subclass of priority 0 — equal priority, original
    # order preserved; a real oracle-backed name must jump ahead
    out = {"ro_new": 1, "tpch_q1_pricing_summary": 2}
    got = _order(out, {})
    assert got == ["tpch_q1_pricing_summary", "ro_new"]


def test_standing_red_leads_never_checked():
    # never-green-with-red-record outranks the brand-new oracle-backed
    # name even if registered later
    out = {"tpch_q1_pricing_summary": 1, "flux_range_filter": 2}
    records = {1: {"flux_range_filter": ERR}}
    assert _order(out, records) == [
        "flux_range_filter",
        "tpch_q1_pricing_summary",
    ]


def test_changed_since_green_outranks_never_checked():
    """A query in changed_in_round with only a PRE-change green record
    re-checks before never-checked additions (its green row describes
    the OLD shape), but after any standing red."""
    out = {
        "fresh": 1,                    # never checked
        "pipeline_corpus_build": 2,    # green in r1, changed later
        "redq": 3,                     # standing red
    }
    got = _order(out, {1: {"pipeline_corpus_build": GREEN, "redq": RED}})
    assert got == ["redq", "pipeline_corpus_build", "fresh"]


def test_changed_since_green_pin_self_retires():
    """Once a green row from >= the change round lands, the stale-green
    pin retires and the query settles behind never-checked names.
    (Round 99 stands in for 'any round at or after the pin' so the
    test survives future pin bumps — the r7 bump of the
    pipeline_corpus_build pin broke the hard-coded round here once.)"""
    out = {"fresh": 1, "pipeline_corpus_build": 2}
    got = _order(out, {99: {"pipeline_corpus_build": GREEN}})
    assert got == ["fresh", "pipeline_corpus_build"]


NO_ORACLE = {
    "rows_match": None,
    "schema_match": None,
    "hash_match": None,
    "spark_rows": 50,
    "err": "no_oracle",
}
NO_ORACLE_CRASH = {
    "rows_match": None,
    "schema_match": None,
    "hash_match": None,
    "spark_rows": None,
    "err": "TypeError: unhashable type: 'list'",
}


def test_rows_only_no_oracle_record_is_settled():
    """A rows-only-by-design query (absent from oracle_sql()) whose
    latest record is the expected no_oracle row with a recorded row
    count can never self-retire via a hash-green row — it must read
    as settled (priority 4), not red, or it permanently occupies the
    head of the driver budget (the r5 lesson)."""
    out = {"ann_like": 1, "fresh": 2}
    got = _order(out, {5: {"ann_like": NO_ORACLE}})
    # settled behind the never-checked addition
    assert got == ["fresh", "ann_like"]


def test_rows_only_crash_record_stays_red():
    """A rows-only query whose record shows a real failure (no row
    count recorded — e.g. the r5 PCA canonicalizer crash) is a live
    defect and must stay at the head."""
    out = {"fresh": 1, "pca_like": 2}
    got = _order(out, {5: {"pca_like": NO_ORACLE_CRASH}})
    assert got == ["pca_like", "fresh"]


def test_no_oracle_record_on_oracle_backed_query_rechecks():
    """If a query GAINS an oracle, its standing no_oracle record
    correctly reads as 'never verified against the new oracle' — it
    re-checks at the head rather than settling."""
    out = {"fresh": 1, "tpch_q1_pricing_summary": 2}
    got = _order(out, {5: {"tpch_q1_pricing_summary": NO_ORACLE}})
    assert got == ["tpch_q1_pricing_summary", "fresh"]


def test_rows_only_record_for_oracle_backed_query_rechecks():
    """Since r8 every registry query is oracle-backed (the last four
    rows-only records were retired), so a standing ``no_oracle`` row —
    whatever round it was taken in, including after the query's
    ``changed_in_round`` — correctly reads as "re-check", never as
    settled: the driver should hash-compare a query that HAS an
    oracle."""
    out = {"similarity_ann_ivf": 1, "fresh": 2}
    got = _order(out, {5: {"similarity_ann_ivf": NO_ORACLE}})
    assert got == ["similarity_ann_ivf", "fresh"]
    # even a record from the change round itself must re-check: the
    # rows-only settle rule applies ONLY to queries absent from
    # oracle_sql(), and none are
    got = _order(out, {8: {"similarity_ann_ivf": NO_ORACLE}})
    assert got == ["similarity_ann_ivf", "fresh"]


def test_registry_pins_names_order_and_oracles():
    """The registry is assembled from the query modules' tables: the
    same 210 names, the same oracle SQL text and the same order as the
    two hand-kept dicts it replaced (``flux_agg_sliding`` moved into
    the Flux block, so the order pin leaves it out)."""
    import hashlib
    import json

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    q, o = em.queries(), em.oracle_sql()
    assert md5("\n".join(sorted(q))) == "446195b09c084b290570dc4f8689b888"
    assert md5(json.dumps(o, sort_keys=True)) == "866a1f08aaa4af64642f4fe237dc2857"
    assert md5(
        "\n".join(n for n in q if n != "flux_agg_sliding")
    ) == "587b768f953f5e90de9a2d32186a77e4"
    assert set(em.CHANGED_IN_ROUND) <= set(q)
    assert set(o) == set(q)
