"""The driver registry's contract: the 114 ``queries()`` keys in their
committed order (the driver grades the first 50, ``_GATE_WINDOW``), one
oracle per query and the registry kept outside the engine package, all
pinned without Spark; and the tables a run builds removed when it exits."""

import os
import subprocess
import sys

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KEYS = [
    "q_usage_day", "q_usage_week", "q_engine_usage_week", "q_get_variable",
    "q_get_increments", "q_compound_formula", "q_column_range",
    "q_distribute_locf", "q_distribute_fill", "q_distribute_linear",
    "q_increments", "q_increments_reset", "q_meter_total",
    "q_split_hour_sum", "q_split_day_mean", "q_group_by_legacy",
    "q_inner_sum", "q_inner_std", "q_last_3", "q_count_state_change",
    "q_pair_product", "q_pair_addition_scalar_broadcast", "q_scalar_chain",
    "q_histogram", "q_union_merge", "q_rollup_1h", "q_transcript_rollup_1m",
    "q_salted_rollup_1m", "q_materialized_tier_1h", "q_realtime_tier_1h",
    "q_stream_ingest_1h", "q_snapshot_compact", "q_snapshot_incremental",
    "q_tier_compressed_read", "q_dedup_clusters", "q_minhash",
    "q_lsh_near_dups", "q_jaccard_pairs", "q_duplicate_spans",
    "q_semantic_dedup", "q_knn_ivf", "q_ann_join", "q_kmv_day_merged",
    "q_hist_quantile_merged", "q_cms_counts", "q_corpus_curation",
    "q_funnel", "q_state_durations", "q_priority_sample", "q_conv_forks",
    "q_inner_max", "q_inner_min", "q_inner_mean", "q_clean_duplicated",
    "q_delete_critical", "q_truncate_round", "q_gaussian_smooth",
    "q_dedup_exact", "q_token_count", "q_quality_score", "q_language_id",
    "q_fingerprint", "q_gopher_quality", "q_repetition", "q_pii_scrub",
    "q_asof_join", "q_range_join", "q_sessionize", "q_session_stats",
    "q_m4_downsample", "q_time_weighted_avg", "q_rolling_zscore",
    "q_latency_percentiles", "q_trend_corr", "q_ewma", "q_holt",
    "q_stratified_sample", "q_budget_sample", "q_dup_rate_by_source",
    "q_hash_split", "q_contamination", "q_source_quota", "q_pack_sequences",
    "q_cusum", "q_dedup_turns", "q_truncate_context", "q_tool_transitions",
    "q_tool_loops", "q_conversation_stats", "q_latency_transitions",
    "q_top_events", "q_hopping_rollup", "q_autocorr",
    "q_derivative_integral", "q_cohort_retention", "q_kmv_distinct_hour",
    "q_kmv_cut_invariant", "q_sliding_distinct", "q_decayed_counts",
    "q_simhash", "q_simhash_near_dups", "q_lsh_incremental",
    "q_containment", "q_knn_bruteforce", "q_embedding_near_dups",
    "q_centroid_similarity", "q_compress_roundtrip",
    "q_multimodal_image_features", "q_multimodal_frame_sample",
    "q_multimodal_audio_features", "q_snapshot_time_travel",
    "q_snapshot_retention", "q_materialized_1d_retention",
    "q_tier_routed_6h",
]


def test_query_keys_and_order():
    keys = list(entry.queries())
    assert keys == KEYS
    assert keys[:50] == entry._GATE_WINDOW


def test_every_query_has_an_oracle():
    assert set(entry.oracle_sql()) == set(KEYS)


def test_registry_is_outside_the_engine():
    engine = os.path.join(REPO, "tsengine")
    plans = {f for f in os.listdir(os.path.join(engine, "plans")) if f.endswith(".py")}
    assert plans == {"__init__.py", "api.py", "parser.py"}
    mentions = []
    for root, _, files in os.walk(engine):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    if "driver_queries" in fh.read():
                        mentions.append(os.path.relpath(path, REPO))
    assert mentions == []


_TABLES_RUN = """
import sys

import driver_queries.data as data
import driver_queries.snapshots as snapshots
from tsengine.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions="4")
snapshots.q_snapshot_retention(spark, sys.argv[1]).count()
data.q_dedup_clusters(spark, sys.argv[1]).count()
print(data._tables_root)
"""


def test_registry_tables_removed_at_exit(tmp_path):
    """A process that builds snapshot tables and the dedup pair table
    leaves no ``tseng_*`` directory behind in its temp directory."""
    from tests.test_plan_index import SF_DIR

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    path = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, TMPDIR=str(tmp), TSENGINE_DRIVER_MEMORY="1g", PYTHONPATH=path)
    run = subprocess.run([sys.executable, "-c", _TABLES_RUN, SF_DIR], cwd=REPO,
                         env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    root = run.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp)
    assert not [p.name for p in tmp.iterdir() if p.name.startswith("tseng_")]
