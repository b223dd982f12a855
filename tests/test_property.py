"""Hypothesis property tests: the Spark engine vs the pure-python reference
oracle (SURVEY.md §5 strategy item 2 — randomized-compare engine vs oracle)
on randomized series, and bitwise codec roundtrips on adversarial vectors.

Design notes:
- Values are integer-valued floats so sums are exact regardless of the
  addition order (Spark aggregates per-partition; np.sum is sequential —
  equality over arbitrary floats would test IEEE ordering, not semantics).
- ``derandomize=True`` keeps CI deterministic; ``deadline=None`` because a
  Spark job's latency is dominated by scheduling noise, not the property.
- Epoch pools cross the Europe/Madrid DST transitions (2021-03-28,
  2021-10-31) so calendar splitting is exercised where it is hardest.
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from oracle import reference_oracle as ro

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# epochs spanning ~2 months around both 2021 Europe/Madrid DST transitions
DST_SPRING = 1616889600  # 2021-03-28 00:00 UTC
DST_FALL = 1635638400  # 2021-10-31 00:00 UTC


def series_strategy(min_size=2, max_size=40, epoch_base=1_600_000_000, epoch_span=3_000_000):
    """Sorted unique (epoch, value) pairs; integer-valued float values."""
    return st.lists(
        st.tuples(
            st.integers(min_value=epoch_base, max_value=epoch_base + epoch_span),
            st.integers(min_value=-1000, max_value=10_000).map(float),
        ),
        min_size=min_size,
        max_size=max_size,
        unique_by=lambda p: p[0],
    ).map(lambda ps: sorted(ps))


def _to_df(spark, ts, series_id=0):
    return spark.createDataFrame(
        [(series_id, e, v) for e, v in ts], "series_id long, epoch long, value double"
    )


def _collect(df):
    return sorted((r.epoch, r.value) for r in df.collect())


@given(
    ts=series_strategy(),
    seconds=st.sampled_from([60, 300, 3600, 7]),
    fill=st.sampled_from([None, 0.0, -1.0]),
)
@settings(**SETTINGS)
def test_distribute_matches_oracle(spark, ts, seconds, fill):
    from tsengine.operators import resample

    got = _collect(resample.distribute(_to_df(spark, ts), seconds=seconds, fill_value=fill))
    exp = sorted(ro.distribute(ts, seconds=seconds, fill_value=fill))
    assert got == exp


@given(
    ts=series_strategy(),
    monotony=st.sampled_from(["increasing", "decreasing"]),
    max_value=st.sampled_from([None, 20_000.0]),
    reset_value=st.sampled_from([0.0, 5.0]),
)
@settings(**SETTINGS)
def test_increments_matches_oracle(spark, ts, monotony, max_value, reset_value):
    from tsengine.operators import increments as incr

    got = _collect(
        incr.increments(
            _to_df(spark, ts),
            monotony=monotony,
            max_value=max_value,
            reset_value=reset_value,
            validate=False,
        )
    )
    exp = sorted(ro.increments(ts, monotony=monotony, max_value=max_value, reset_value=reset_value))
    assert got == exp


@given(
    ts=st.one_of(
        series_strategy(epoch_base=DST_SPRING - 1_500_000, epoch_span=3_000_000),
        series_strategy(epoch_base=DST_FALL - 1_500_000, epoch_span=3_000_000),
    ),
    period=st.sampled_from(["hour", "day", "week", "month"]),
)
@settings(**SETTINGS)
def test_split_inner_sum_matches_oracle(spark, ts, period):
    from tsengine.operators import split as spl

    got = sorted(
        (r.bucket, r.epoch, r.value)
        for r in spl.split_agg(_to_df(spark, ts), period=period, agg="sum").collect()
    )
    exp = []
    for group in ro.split(ts, period=period):
        e, v = ro.inner_sum(group)
        from tsengine.timeutil import time_interval_beginning

        exp.append((time_interval_beginning(period, "Europe/Madrid", group[0][0]), e, v))
    assert got == sorted(exp)


@given(
    ts=series_strategy(min_size=3, epoch_base=DST_SPRING - 1_500_000, epoch_span=3_000_000),
    period=st.sampled_from(["day", "week"]),
)
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_usage_pipeline_matches_oracle(spark, ts, period):
    """Flagship composite: inner_sum(split(increments(distribute(ts; 1h))))."""
    from tsengine.operators import increments as incr
    from tsengine.operators import resample, split as spl

    d = resample.distribute(_to_df(spark, ts), seconds=3600)
    inc = incr.increments(d, monotony="increasing", validate=False)
    got = sorted((r.epoch, r.value) for r in spl.split_agg(inc, period=period, agg="sum").collect())
    exp = sorted(ro.usage_split_sum(ts, period=period, seconds=3600))
    assert got == exp


@given(
    deltas=st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=300),
            st.integers(min_value=0, max_value=2**40),  # multi-century jumps
        ),
        min_size=0,
        max_size=200,
    ),
    vals=st.lists(
        st.one_of(
            st.floats(allow_nan=False, allow_infinity=True, width=64),
            st.sampled_from([0.0, -0.0, 1e-308, 5e-324, 1e308, 42.5]),
        ),
        min_size=1,
        max_size=201,
    ),
    first_ts=st.integers(min_value=0, max_value=2**48),
)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_codec_roundtrip_bitwise(deltas, vals, first_ts):
    """decode(encode(x)) == x bit-for-bit: int64 timestamps, float64 values
    (±0, denormals, ±inf, full exponent range), arbitrary gap structure."""
    from oracle import gorilla_scalar as G

    n = min(len(deltas) + 1, len(vals))
    ts = first_ts + np.cumsum(np.array([0] + list(deltas[: n - 1]), dtype=np.int64))
    v = np.array(vals[:n], dtype=np.float64)
    blk = G.encode_block(ts, v)
    dts, dv = G.decode_block(blk)
    assert dts.tolist() == ts.tolist()
    assert np.asarray(dv, dtype=np.float64).view(np.uint64).tolist() == v.view(np.uint64).tolist()


@given(
    turns=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500_000),  # epoch
            st.sampled_from(["user", "assistant", "system"]),
            st.sampled_from([None, "search", "bash"]),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_rollup_tiers_match_oracle(spark, turns):
    """Engine tier rows == oracle rollup on a random single-conversation turn
    stream (epochs may repeat — latency 0 turns — and arrive unsorted; the
    engine orders by turn_idx, the oracle receives the same order)."""
    from tsengine.operators import rollup as R

    turns = sorted(turns)  # stable (epoch asc) order; turn_idx follows it
    rows = [("c0", i, role, f"t{i}", tool, ts) for i, (ts, role, tool) in enumerate(turns)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_epoch long"
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool", "cast(ts_epoch as timestamp) as ts")
    tiers = R.build_all_tiers(R.with_latency(df))
    oracle_turns = [{"epoch": ts, "role": role, "tool": tool} for ts, role, tool in turns]
    exp_all = ro.rollup_tiers(oracle_turns)
    for name in ("1m", "1h", "1d"):
        exp = exp_all[name]
        got = {r.bucket: r for r in tiers[name].collect()}
        assert set(got) == set(exp)
        for b, e in exp.items():
            g = got[b]
            assert (g.cnt, g.cnt_lat) == (e["cnt"], e["cnt_lat"]), (name, b)
            for f in ("vmin", "vmax", "vsum", "vmean"):
                assert getattr(g, f) == e[f], (name, b, f)
            assert dict(g.role_dist or {}) == e["role_dist"], (name, b)
            assert dict(g.tool_dist or {}) == e["tool_dist"], (name, b)


# ---------------------------------------------------------------- round-3 ops

def _funnel_oracle(rows, steps, within):
    """Pure-python greedy windowed funnel (independent re-derivation)."""
    out = {}
    by_user = {}
    for uid, ep, s in sorted(rows, key=lambda r: (r[0], r[1], steps.index(r[2]))):
        by_user.setdefault(uid, []).append((ep, s))
    for uid, evs in by_user.items():
        t = [None] * len(steps)
        for ep, s in evs:
            i = steps.index(s)
            if i == 0:
                if t[0] is None:
                    t[0] = ep
            elif (
                t[i] is None and t[i - 1] is not None and ep >= t[i - 1]
                and (within is None or ep <= t[0] + within)
            ):
                t[i] = ep
        if t[0] is not None:
            out[uid] = tuple(t)
    return out


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user
            st.integers(min_value=0, max_value=5000),       # ep
            st.sampled_from(["a", "b", "c"]),               # step
        ),
        min_size=1, max_size=60,
    )
)
@settings(**SETTINGS)
def test_funnel_matches_python_oracle(spark, rows):
    from tsengine.operators.eventops import funnel

    # unique (user, ep) so ordering is deterministic without a tiebreak:
    # same-ts events would need the sort's step order pinned, which the
    # operator defines via (ts, step) struct sort — mirrored in the oracle
    seen, uniq = set(), []
    for u, e, s in rows:
        if (u, e) not in seen:
            seen.add((u, e))
            uniq.append((u, e, s))
    df = spark.createDataFrame(uniq, "user_id long, ep long, event_type string")
    got = {
        r["user_id"]: (r["t_a"], r["t_b"], r["t_c"])
        for r in funnel(df, ["a", "b", "c"], within_sec=1000).collect()
    }
    assert got == _funnel_oracle(uniq, ["a", "b", "c"], 1000)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),           # user
            st.integers(min_value=0, max_value=20000),       # ep (unique)
            st.sampled_from(["A", "B"]),                     # state
        ),
        min_size=1, max_size=50, unique_by=lambda r: (r[0], r[1]),
    )
)
@settings(**SETTINGS)
def test_state_durations_coverage_identity(spark, rows):
    """Per user: total state seconds == (end of last hold) - (first ts),
    where the last hold ends at its own bucket end — the invariant that
    clipping across buckets neither loses nor double-counts time."""
    from tsengine.operators.eventops import state_durations

    W = 3600
    df = spark.createDataFrame(rows, "user_id long, ep long, state string")
    got = state_durations(df, by="user_id", ts="ep", state="state",
                          width_sec=W).collect()
    per_user = {}
    for r in got:
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + r["sec"]
    for uid in {r[0] for r in rows}:
        eps = sorted(e for u, e, _s in rows if u == uid)
        expect = (eps[-1] // W) * W + W - eps[0]
        assert per_user[uid] == expect, (uid, per_user.get(uid), expect)


@given(
    keys=st.lists(st.integers(min_value=0, max_value=400),
                  min_size=1, max_size=120),
    k=st.sampled_from([2, 5, 16]),
)
@settings(**SETTINGS)
def test_kmv_merge_identity_random(spark, keys, k):
    from tsengine.operators import sketches

    rows = [(i * 997 % 100_000, kk) for i, kk in enumerate(keys)]
    df = spark.createDataFrame(rows, "ep long, user_id long")
    hour = sketches.kmv_sketch(df, width_sec=3600, k=k)
    merged = sketches.kmv_merge(hour, width_sec=86400, k=k)
    direct = sketches.kmv_sketch(df, width_sec=86400, k=k)
    ms = sorted((r["bucket"], tuple(r["kmv"])) for r in merged.collect())
    ds = sorted((r["bucket"], tuple(r["kmv"])) for r in direct.collect())
    assert ms == ds


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=50_000),
                  st.integers(min_value=-100, max_value=100).map(float)),
        min_size=1, max_size=60,
    ),
    width=st.sampled_from([4, 8, 16]),
)
@settings(**SETTINGS)
def test_hopping_rollup_covering_property(spark, rows, width):
    """Every event lands in exactly width/slide windows, window sums
    reconstruct, and the tumbling special case (slide == width) equals a
    plain bucket groupBy."""
    from tsengine.operators.eventops import hopping_rollup

    slide = width // 2
    df = spark.createDataFrame(rows, "ep long, value double")
    out = hopping_rollup(df, width_sec=width, slide_sec=slide).collect()
    total_n = sum(r["n"] for r in out)
    assert total_n == len(rows) * (width // slide)
    tumb = {
        (r["w_start"], r["n"])
        for r in hopping_rollup(df, width_sec=width, slide_sec=width).collect()
    }
    exp = {}
    for ep, _v in rows:
        b = (ep // width) * width
        exp[b] = exp.get(b, 0) + 1
    assert tumb == set(exp.items())


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**6),
                  min_size=1, max_size=40, unique=True),
    k=st.sampled_from([1, 3, 10]),
)
@settings(**SETTINGS)
def test_priority_sample_global_matches_hashlib(spark, keys, k):
    import hashlib

    from tsengine.operators.sampling import H_SPACE, priority_sample

    rows = [(kk, float(1 + kk % 17)) for kk in keys]
    df = spark.createDataFrame(rows, "doc_id long, weight double")
    got = {r["doc_id"] for r in priority_sample(df, k=k, salt="p").collect()}

    def draw(x):
        return int(hashlib.md5((str(x) + "p").encode()).hexdigest()[:15], 16)

    pri = sorted(
        ((w * float(H_SPACE) / float(draw(d) + 1), d) for d, w in rows),
        key=lambda t: (-t[0], t[1]),
    )
    assert got == {d for _q, d in pri[:k]}


def _state_durations_oracle(rows, width):
    """Pure-python re-derivation: LOCF holds, last hold to its own bucket
    end, clip per covered bucket."""
    out = {}
    by_user = {}
    for u, e, s in sorted(rows):
        by_user.setdefault(u, []).append((e, s))
    for u, evs in by_user.items():
        for i, (t, s) in enumerate(evs):
            t_end = evs[i + 1][0] if i + 1 < len(evs) else (t // width) * width + width
            if t_end <= t:
                continue
            b = (t // width) * width
            while b < t_end:
                sec = min(t_end, b + width) - max(t, b)
                key = (u, b, s)
                n, tot = out.get(key, (0, 0))
                out[key] = (n + 1, tot + sec)
                b += width
    return {k: (tot, n) for k, (n, tot) in out.items()}


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2),
                  st.integers(min_value=0, max_value=30000),
                  st.sampled_from(["A", "B", "C"])),
        min_size=1, max_size=40, unique_by=lambda r: (r[0], r[1]),
    )
)
@settings(**SETTINGS)
def test_state_durations_matches_python_oracle(spark, rows):
    from tsengine.operators.eventops import state_durations

    W = 3600
    df = spark.createDataFrame(rows, "user_id long, ep long, state string")
    got = {
        (r["user_id"], r["bucket"], r["state"]): (r["sec"], r["n_holds"])
        for r in state_durations(df, by="user_id", ts="ep", state="state",
                                 width_sec=W).collect()
    }
    assert got == _state_durations_oracle(rows, W)


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),        # user
                  st.integers(min_value=0, max_value=20)),      # day index
        min_size=1, max_size=60,
    )
)
@settings(**SETTINGS)
def test_cohort_retention_matches_python_oracle(spark, rows):
    from tsengine.operators.eventops import cohort_retention

    DAY = 86400
    df = spark.createDataFrame(
        [(d * DAY + u, u) for u, d in rows], "ep long, user_id long"
    )
    got = {
        (r["cohort"], r["offset"]): r["n_users"]
        for r in cohort_retention(df, width_sec=DAY).collect()
    }
    days_by_user = {}
    for u, d in rows:
        days_by_user.setdefault(u, set()).add(d)
    exp = {}
    for u, ds in days_by_user.items():
        c = min(ds)
        for d in ds:
            k = (c * DAY, d - c)
            exp[k] = exp.get(k, 0) + 1
    assert got == exp


@given(
    vals=st.lists(st.floats(min_value=0.01, max_value=500,
                            allow_nan=False, allow_infinity=False),
                  min_size=1, max_size=80)
)
@settings(**SETTINGS)
def test_histogram_quantile_monotone_and_bounded(spark, vals):
    import pyspark.sql.functions as F

    from tsengine.operators import sketches

    edges = [float(2**i) for i in range(-2, 10)]
    df = spark.createDataFrame([(0, v) for v in vals], "ep long, value double")
    h = sketches.fixed_histogram(df, width_sec=3600, edges=edges)
    r = h.select(
        *[sketches.histogram_quantile("hist", edges, q).alias(f"p{int(q*100)}")
          for q in (0.1, 0.5, 0.9, 0.99)]
    ).first()
    qs = [r["p10"], r["p50"], r["p90"], r["p99"]]
    assert all(x is not None for x in qs)
    assert qs == sorted(qs)                       # monotone in q
    assert edges[0] <= qs[0] and qs[-1] <= edges[-1]  # clamped to edge range


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=200),      # doc id
                  st.sampled_from(["a", "b", "c"]),             # class
                  st.integers(min_value=1, max_value=500)),     # weight
        min_size=1, max_size=50, unique_by=lambda r: r[0],
    )
)
@settings(**SETTINGS)
def test_budget_sample_matches_hashlib(spark, rows):
    import hashlib

    from tsengine.operators.sampling import H_SPACE, budget_sample

    budgets = {"a": 300.0, "b": 100000.0}
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {
        r["doc_id"]
        for r in budget_sample(df, class_col="source", weight_col="n_chars",
                               budgets=budgets, default_budget=50.0,
                               salt="pb").collect()
    }
    totals = {}
    for _d, c, w in rows:
        totals[c] = totals.get(c, 0.0) + float(w)
    exp = set()
    for d, c, _w in rows:
        rate = min(1.0, budgets.get(c, 50.0) / totals[c])
        h = int(hashlib.md5((str(d) + "pb").encode()).hexdigest()[:15], 16)
        if float(h) < rate * float(H_SPACE):
            exp.add(d)
    assert got == exp
