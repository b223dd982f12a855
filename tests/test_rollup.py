"""Tier rollup correctness: bit-for-bit vs the pure-pandas oracle
(FIXTURES.md §4), partial-reaggregation consistency, plan shape, vocab
completeness, and the per-conversation curation operators.  Kill-resume
and lineage of persisted tiers live in test_materialize.py."""

import pytest

from oracle import reference_oracle as ro
from tsengine.operators import rollup as R
from tsengine.synth import transcripts


@pytest.fixture(scope="module")
def small_transcripts(spark):
    return transcripts(spark, n_conv=20, base_turns=40, hot_factor=10).cache()


def _collect_turns(df):
    rows = df.select("conv_id", "turn_idx", "role", "tool", "ts").collect()
    by_conv = {}
    for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        by_conv.setdefault(r["conv_id"], []).append(
            {
                "epoch": int(r["ts"].timestamp()),
                "role": r["role"],
                "tool": r["tool"],
            }
        )
    return by_conv


def _tier_rows(df):
    out = {}
    for r in df.collect():
        key = (r["conv_id"], r["bucket"])
        out[key] = {
            "cnt": r["cnt"],
            "cnt_lat": r["cnt_lat"],
            "vmin": r["vmin"],
            "vmax": r["vmax"],
            "vsum": r["vsum"],
            "vmean": r["vmean"],
            "role_dist": dict(r["role_dist"]) if r["role_dist"] else {},
            "tool_dist": dict(r["tool_dist"]) if r["tool_dist"] else {},
        }
    return out


def test_synth_deterministic_and_invariant(spark):
    a = transcripts(spark, n_conv=5, base_turns=20, hot_factor=3)
    b = transcripts(spark, n_conv=5, base_turns=20, hot_factor=3)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    # (conv_id, turn_idx) unique; ts non-decreasing within conv
    seen = set()
    last = {}
    for row in ra:
        conv, idx, _, _, _, ts = row
        assert (conv, idx) not in seen
        seen.add((conv, idx))
        if conv in last:
            assert ts >= last[conv]
        last[conv] = ts


def test_tiers_match_pandas_oracle_bitforbit(spark, small_transcripts):
    turns = R.with_latency(small_transcripts)
    tiers = R.build_all_tiers(turns)
    by_conv = _collect_turns(small_transcripts)

    for name in ("1m", "1h", "1d"):
        got = _tier_rows(tiers[name])
        exp = {}
        for conv, t in by_conv.items():
            for bucket, row in ro.rollup_tiers(t, tiers=((R.TIERS[name], name),))[name].items():
                exp[(conv, bucket)] = row
        assert set(got) == set(exp), f"{name}: bucket sets differ"
        for key in exp:
            g, e = got[key], exp[key]
            assert g["cnt"] == e["cnt"] and g["cnt_lat"] == e["cnt_lat"], (name, key)
            # bit-for-bit float equality (integer-second latencies are exact)
            for fld in ("vmin", "vmax", "vsum", "vmean"):
                assert g[fld] == e[fld], (name, key, fld, g[fld], e[fld])
            assert g["role_dist"] == e["role_dist"], (name, key)
            assert g["tool_dist"] == e["tool_dist"], (name, key)


def test_reaggregate_equals_direct(spark, small_transcripts):
    """1h built from 1m must equal 1h built straight from raw."""
    turns = R.with_latency(small_transcripts)
    direct = _tier_rows(R.rollup_raw_to_tier(turns, "1h"))
    via_1m = _tier_rows(R.reaggregate(R.rollup_raw_to_tier(turns, "1m"), "1h"))
    assert direct == via_1m


def test_tier_chain_single_exchange_plan(spark, small_transcripts):
    """Scale guard: raw -> latency -> 1m must execute with exactly ONE
    Exchange (the window's conv_id hashpartitioning satisfies the rollup
    groupBy's clustering requirement), and the aggregate must be codegen
    HashAggregate, not ObjectHashAggregate (README 'Design for 100 TB')."""
    from tsengine.operators import rollup as R

    turns = R.with_latency(small_transcripts)
    plan = (
        R.rollup_raw_to_tier(turns, "1m", role_vocab=["user"], tool_vocab=["grep"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_incomplete_vocab_records_other_bucket(spark, small_transcripts):
    """A caller-supplied vocab that misses categories must not silently
    undercount: missing values land under the reserved '__other__' key, in
    both the raw rollup and the map-reaggregation path."""
    from pyspark.sql import functions as F

    turns = R.with_latency(small_transcripts)
    full_roles = sorted(
        r[0] for r in small_transcripts.select("role").distinct().collect()
    )
    partial = full_roles[:-1]
    dropped = full_roles[-1]

    m_full = R.rollup_raw_to_tier(turns, "1m", role_vocab=full_roles)
    m_part = R.rollup_raw_to_tier(turns, "1m", role_vocab=partial)

    tot = lambda df: df.select(  # noqa: E731
        F.sum(
            F.aggregate(
                F.map_values("role_dist"), F.lit(0).cast("long"), lambda a, x: a + x
            )
        )
    ).first()[0]
    # totals preserved, dropped category accounted under __other__
    assert tot(m_part) == tot(m_full)
    other_total = m_part.select(
        F.sum(F.coalesce(F.element_at("role_dist", F.lit("__other__")), F.lit(0)))
    ).first()[0]
    dropped_total = m_full.select(
        F.sum(F.coalesce(F.element_at("role_dist", F.lit(dropped)), F.lit(0)))
    ).first()[0]
    assert other_total == dropped_total > 0

    # reaggregation with the same partial vocab keeps the accounting
    h_part = R.reaggregate(m_part, "1h", role_vocab=partial)
    assert tot(h_part) == tot(m_full)
    # a complete vocab still produces NO __other__ entries
    assert (
        m_full.filter(F.element_at("role_dist", F.lit("__other__")).isNotNull()).count()
        == 0
    )


def test_conversation_stats_hand_computed(spark):
    import tsengine.operators.rollup as R

    rows = [
        # c1: strict alternation, one tool call, latencies 10 and 20
        ("c1", 1, "user", "hi there", "", 100),
        ("c1", 2, "assistant", "hello", "search", 110),
        ("c1", 3, "user", "bye", "", 130),
        # c2: single turn (no latency), no tools
        ("c2", 1, "user", "solo", "", 500),
        # c3: alternation violation (two assistant turns in a row)
        ("c3", 1, "assistant", "a", "", 0),
        ("c3", 2, "assistant", "b", "t", 5),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, e long"
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                 "cast(e as timestamp) as ts")
    out = {r["conv_id"]: r for r in R.conversation_stats(df).collect()}
    c1 = out["c1"]
    assert c1["n_turns"] == 3 and c1["n_roles"] == 2
    assert c1["duration_sec"] == 30 and c1["alternation_violations"] == 0
    assert c1["lat_mean"] == 15.0 and c1["lat_max"] == 20
    assert abs(c1["tool_frac"] - 0.333333) < 1e-9
    assert c1["chars_total"] == len("hi there") + len("hello") + len("bye")
    c2 = out["c2"]
    assert c2["n_turns"] == 1 and c2["lat_mean"] == 0.0 and c2["lat_max"] == 0
    assert c2["duration_sec"] == 0 and c2["tool_frac"] == 0.0
    c3 = out["c3"]
    assert c3["alternation_violations"] == 1 and c3["n_roles"] == 1
    assert abs(c3["tool_frac"] - 0.5) < 1e-9


def test_conversation_stats_single_exchange_plan(spark):
    import tsengine.operators.rollup as R

    df = spark.createDataFrame(
        [("c", 1, "user", "x", "", 0)],
        "conv_id string, turn_idx int, role string, text string, tool string, e long",
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                 "cast(e as timestamp) as ts")
    plan = (
        R.conversation_stats(df)._jdf.queryExecution().executedPlan().toString()
    )
    # window partition key (conv_id) satisfies the groupBy clustering:
    # one shuffle (+ final AQE read), no Expand from a distinct rewrite
    assert plan.count("Exchange") <= 2
    assert "Expand" not in plan


def test_latency_by_transition(spark):
    from pyspark.sql import functions as F

    from tsengine.operators import rollup as R

    rows = [
        ("c1", 1, "user", 0), ("c1", 2, "assistant", 10),
        ("c1", 3, "user", 40), ("c1", 4, "assistant", 60),
        ("c2", 1, "user", 0), ("c2", 2, "assistant", 30),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, e long"
    ).select("conv_id", "turn_idx", "role", F.timestamp_seconds("e").alias("ts"))
    got = {
        (r["role_from"], r["role_to"]): (r["n"], r["mean_latency"],
                                         r["max_latency"], r["p50_latency"])
        for r in R.latency_by_transition(t).collect()
    }
    assert got == {
        ("user", "assistant"): (3, 20.0, 30, 20.0),   # 10, 20, 30
        ("assistant", "user"): (1, 30.0, 30, 30.0),
    }
