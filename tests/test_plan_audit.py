"""Plan-regression pin (r9): every declared query's physical-plan
audit — smell flags, parquet-scan count, pushed-filter count — must
match the checked-in golden. An edit that un-pushes a filter, adds a
scan, or introduces a cartesian now fails the suite instead of waiting
for a round review.

Regenerate after an INTENTIONAL plan change with::

    python tools/plan_audit.py /root/testdata/sf0.001 --write-golden

and justify the diff in the commit message."""

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.plan_audit import GOLDEN_PATH, audit_all  # noqa: E402


def test_plans_match_golden(spark, sf_dir):
    with open(GOLDEN_PATH) as fh:
        golden = json.load(fh)
    got = audit_all(spark, sf_dir)

    assert sorted(got) == sorted(golden), (
        "query registry changed — regenerate the plan golden"
    )
    diffs = {
        name: {"golden": golden[name], "got": got[name]}
        for name in golden
        if got[name] != golden[name]
    }
    assert not diffs, (
        "physical plans drifted from tests/golden/plan_audit.json "
        "(un-pushed filter / extra scan / new join smell?). If the "
        "change is intentional, regenerate with tools/plan_audit.py "
        f"--write-golden. Diffs: {json.dumps(diffs, indent=1)}"
    )
    # the flag set itself stays pinned to the 10 documented-intentional
    # shapes — any NEW flagged query is a regression even if golden
    # were regenerated without review
    flagged = {n for n, r in got.items() if r["flags"]}
    assert flagged == {
        "tpch_q22_dormant_customers", "tpch_q11_important_stock",
        "similarity_cosine_topk", "contrastive_hard_negatives",
        "text_tfidf_top_terms", "corpus_mix_weights",
        "basket_affinity_parts", "profile_columns_exact",
        "events_rfm_segments", "text_trigram_lm_quality",
    }
