#!/usr/bin/env python
"""Dump formatted physical plans of the headline queries to BENCH/plans/.

The 100-TB argument lives in plan shapes — filters pushed to the parquet
scan, ONE exchange per semantic stage, broadcast (not shuffled) small
sides, WholeStageCodegen spans over the hot expressions, no
CartesianProduct/BroadcastNestedLoopJoin anywhere.  The per-round review
audits these by reading `.explain("formatted")`; this script materializes
the same text as committed artifacts so the shapes are reviewable without
a Spark session.

Usage: python scripts/dump_plans.py [sf_dir]      (default /root/testdata/sf0.01)
Writes BENCH/plans/<query>.txt plus an INDEX.md with red-flag grep results,
from the checkout the script sits in, whatever the working directory.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the queries whose plans carry the scale story (VERDICT plan-audit set,
# the tier chain, the compressed-tier read path, the formula layer and the
# LLM-pipeline set: curation, priority sampling, LSH near-dups, dup spans)
PLAN_SET = [
    "q_usage_day",
    "q_distribute_linear",
    "q_dedup_clusters",
    "q_jaccard_pairs",
    "q_rollup_1h",
    "q_pair_product",
    "q_pair_addition_scalar_broadcast",
    "q_get_increments",
    "q_compound_formula",
    "q_knn_ivf",
    "q_semantic_dedup",
    "q_transcript_rollup_1m",
    "q_tier_compressed_read",
    "q_corpus_curation",
    "q_priority_sample",
    "q_lsh_near_dups",
    "q_duplicate_spans",
]

RED_FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin")
# shuffle exchanges (not BroadcastExchange) and parquet scans of a
# formatted plan: the INDEX.md columns, pinned by tests/test_plan_index.py
EXCHANGE_RE = re.compile(r"\(\d+\) Exchange\b")
SCAN_RE = re.compile(r"\(\d+\) Scan parquet")


def plan_counts(plan: str) -> tuple[int, int, list[str]]:
    """(exchanges, parquet scans, red-flag joins) of a formatted plan."""
    return (len(EXCHANGE_RE.findall(plan)), len(SCAN_RE.findall(plan)),
            [fl for fl in RED_FLAGS if fl in plan])


def formatted_plan(df) -> str:
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jqe.explainString(mode)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = os.path.join(REPO, "BENCH", "plans")
    os.makedirs(out_dir, exist_ok=True)

    from tsengine.session import get_spark
    import __spark_entry__ as entry

    # the Python workers import this checkout's tsengine too
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()

    index = ["# Headline query plans", "",
             f"Source: `{sf_dir}`; regenerated by `python scripts/dump_plans.py`.", "",
             "(Plans are pre-execution AQE plans: codegen ids are assigned at",
             "execution, so the audit columns here are exchange count, scan",
             "count and red-flag joins; read the .txt for scan column pruning",
             "and PushedFilters.)", "",
             "| query | exchanges | parquet scans | red flags |",
             "|---|---|---|---|"]
    for name in PLAN_SET:
        if name not in queries:
            continue
        df = queries[name](spark, sf_dir)
        plan = formatted_plan(df)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        n_ex, n_scan, flags = plan_counts(plan)
        index.append(f"| {name} | {n_ex} | {n_scan} | "
                     f"{', '.join(flags) if flags else 'none'} |")
        print(f"{name}: exchanges={n_ex} scans={n_scan} flags={flags or 'none'}")
    with open(os.path.join(out_dir, "INDEX.md"), "w") as f:
        f.write("\n".join(index) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
