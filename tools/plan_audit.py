#!/usr/bin/env python
"""Physical-plan audit over every declared query.

Flags plan smells that matter at 100 TB:
  * CartesianProduct / BroadcastNestedLoopJoin — quadratic unless intended
  * BatchEvalPython — row-at-a-time Python in the plan (ArrowEvalPython /
    MapInPandas are the sanctioned Python paths)
  * a Window directly over an Exchange SinglePartition — a global
    analytic that moves the whole dataset to one task

Queries that intentionally trip the join flag (10):
similarity_cosine_topk and contrastive_hard_negatives (brute-force
scorer: corpus × broadcast query set IS the algorithm);
text_tfidf_top_terms, tpch_q22_dormant_customers,
tpch_q11_important_stock, corpus_mix_weights, basket_affinity_parts,
events_rfm_segments and text_trigram_lm_quality (cross join against a
broadcast 1-row scalar — the plan Spark itself produces for an
uncorrelated scalar subquery; for the trigram LM it is the training
vocabulary size, which as a driver collect cost a whole job per
build); profile_columns_exact (crossJoin of its two 1-row
aggregate frames — plain metrics x exact distincts). The
similarity_ann_* family stopped flagging in r8: the localCheckpoint
barrier ahead of the recall join cuts the ann-side plan.

The audit doubles as a REGRESSION PIN (r9): ``--write-golden`` snapshots
{query: {flags, scans, pushed}} to ``tests/golden/plan_audit.json`` and
``tests/test_plan_audit.py`` re-derives the audit and diffs it — an edit
that un-pushes a filter, adds a scan, or introduces a cartesian now
fails the suite instead of waiting for a round review.

Usage: python tools/plan_audit.py [sf_dir] [--write-golden]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "golden", "plan_audit.json",
)


def audit_frame(df) -> dict:
    """One query frame → {"flags": [...], "scans": n, "pushed": n}.
    Pure plan inspection (pre-execution explain) — deterministic for a
    given query + testdata schema, independent of shuffle settings."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    simple_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    flags = []
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        flags.append("nested-loop/cartesian join")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time Python UDF")
    # a Window directly over an Exchange SinglePartition moves ALL
    # data to one task — the "No Partition Defined" smell (global
    # analytic over the whole dataset); 1-row scalar aggregates also
    # use SinglePartition legitimately, so only the Window shape is
    # flagged
    simple = df._jdf.queryExecution().explainString(simple_mode)
    lines = simple.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            window_above = any(
                re.search(r"\bWindow\b", lines[j])
                for j in range(max(0, i - 3), i)
            )
            if window_above:
                flags.append("single-partition global window")
                break
    # (no codegen check: AQE's pre-execution explain elides codegen
    # ids, so presence can only be observed on the executed plan)
    n_scans = plan.count("Scan parquet") // 2 or plan.count("Scan parquet")
    n_pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return {"flags": flags, "scans": n_scans, "pushed": n_pushed}


def audit_all(spark, sf_dir: str) -> dict[str, dict]:
    """Audit every declared query; a query whose plan cannot even be
    built records a PLAN ERROR flag."""
    import __spark_entry__ as entry_mod

    out: dict[str, dict] = {}
    for name, fn in entry_mod.queries().items():
        try:
            out[name] = audit_frame(fn(spark, sf_dir))
        except Exception as exc:
            out[name] = {
                "flags": [f"PLAN ERROR: {exc}"], "scans": 0, "pushed": 0,
            }
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write_golden = "--write-golden" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    from solar_logger_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    results = audit_all(spark, sf_dir)
    findings = {}
    for name, r in results.items():
        flags = r["flags"]
        if flags:
            findings[name] = flags
        print(f"{name}: scans={r['scans']} pushed={r['pushed']} "
              f"{'; '.join(flags) if flags else 'ok'}")

    print()
    if findings:
        print(f"{len(findings)} queries flagged:")
        for name, flags in findings.items():
            print(f"  {name}: {'; '.join(flags)}")
    else:
        print("no plan smells flagged")
    if write_golden:
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        with open(GOLDEN_PATH, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"golden written: {GOLDEN_PATH}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
