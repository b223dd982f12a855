"""The headline plan shapes of BENCH/plans/INDEX.md, pinned: each
``scripts/dump_plans.py`` PLAN_SET query, built over the sf0.001 test
tables (TESTDATA.md), has the table's shuffle-exchange and parquet-scan
counts and no CartesianProduct/BroadcastNestedLoopJoin.  Counted with
dump_plans' own regexes, so the test and the committed dump agree."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "dump_plans", os.path.join(REPO, "scripts", "dump_plans.py"))
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)

# query -> (exchanges, parquet scans), as in BENCH/plans/INDEX.md
SHAPES = {
    "q_usage_day": (2, 1),
    "q_distribute_linear": (2, 1),
    "q_dedup_clusters": (1, 1),
    "q_jaccard_pairs": (14, 6),
    "q_rollup_1h": (1, 1),
    "q_pair_product": (3, 2),
    "q_pair_addition_scalar_broadcast": (2, 2),
    "q_get_increments": (1, 1),
    "q_compound_formula": (2, 1),
    "q_knn_ivf": (0, 1),
    "q_semantic_dedup": (3, 1),
    "q_transcript_rollup_1m": (2, 1),
    "q_tier_compressed_read": (0, 1),
    "q_corpus_curation": (4, 5),
    "q_priority_sample": (2, 2),
    "q_lsh_near_dups": (10, 8),
    "q_duplicate_spans": (2, 2),
}


def test_shapes_cover_the_plan_set():
    assert list(SHAPES) == dump_plans.PLAN_SET


@pytest.mark.parametrize("name", dump_plans.PLAN_SET)
def test_plan_shape(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    plan = dump_plans.formatted_plan(df)
    n_ex, n_scan, flags = dump_plans.plan_counts(plan)
    assert (n_ex, n_scan) == SHAPES[name], plan
    assert flags == [], plan
