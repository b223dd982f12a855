"""Sessionization and M4 downsampling: hand-computed vectors + tie-break
determinism."""

import pytest
from pyspark.sql import functions as F

from tsengine.operators.eventops import (
    m4_downsample,
    rolling_zscore,
    sessionize,
    time_weighted_avg,
)


def test_sessionize_gaps_and_ties(spark):
    rows = [
        # u1: events at 0, 100, 2000 (gap 1900 > 1800 -> new session), 3800
        ("u1", 0, 1), ("u1", 100, 2), ("u1", 2000, 3), ("u1", 3800, 4),
        # u2: exact-gap event stays in session (1800 == gap)
        ("u2", 0, 5), ("u2", 1800, 6),
        # u2: duplicate ts ordered by event_id
        ("u2", 1800, 7),
    ]
    df = spark.createDataFrame(rows, "user_id string, ep long, event_id long")
    out = {r["event_id"]: r["session_idx"]
           for r in sessionize(df, by="user_id", ts="ep", gap_sec=1800,
                               tiebreak="event_id").collect()}
    assert out[1] == 1 and out[2] == 1
    assert out[3] == 2 and out[4] == 2
    assert out[5] == 1 and out[6] == 1 and out[7] == 1


def test_m4_hand_computed(spark):
    rows = [
        ("s", 0, 5.0), ("s", 10, 1.0), ("s", 20, 9.0), ("s", 30, 1.0), ("s", 35, 2.0),
        ("s", 100, 7.0),  # second bucket
    ]
    df = spark.createDataFrame(rows, "series_id string, ep long, value double")
    out = {r["bucket"]: r for r in
           m4_downsample(df, by="series_id", ts="ep", val="value",
                         width_sec=50).collect()}
    b0 = out[0]
    assert (b0["ts_first"], b0["v_first"]) == (0, 5.0)
    assert (b0["ts_last"], b0["v_last"]) == (35, 2.0)
    # tie on min value 1.0 at ts 10 and 30 -> earlier ts wins
    assert (b0["ts_min"], b0["v_min"]) == (10, 1.0)
    assert (b0["ts_max"], b0["v_max"]) == (20, 9.0)
    assert b0["n_points"] == 5
    b1 = out[100]
    assert b1["n_points"] == 1 and b1["v_min"] == b1["v_max"] == 7.0


def test_time_weighted_avg_hand_computed(spark):
    rows = [
        # bucket [0,100): v=10 holds 0..80 (80s), v=2 holds 80..100 (20s)
        ("s", 0, 10.0, 1), ("s", 80, 2.0, 2),
        # bucket [100,200): single point at 150, holds to 200 (covered 50)
        ("s", 150, 4.0, 3),
        # duplicate ts: event 4 gets weight 0, event 5 holds 20..100
        ("d", 20, 100.0, 4), ("d", 20, 6.0, 5),
    ]
    df = spark.createDataFrame(rows, "series_id string, ep long, value double, eid long")
    out = {(r["series_id"], r["bucket"]): r for r in
           time_weighted_avg(df, by="series_id", ts="ep", val="value",
                             width_sec=100, tiebreak="eid").collect()}
    s0 = out[("s", 0)]
    assert s0["twa"] == (10.0 * 80 + 2.0 * 20) / 100 and s0["covered_sec"] == 100
    s1 = out[("s", 100)]
    assert s1["twa"] == 4.0 and s1["covered_sec"] == 50 and s1["n_points"] == 1
    d0 = out[("d", 0)]
    assert d0["twa"] == 6.0 and d0["covered_sec"] == 80 and d0["n_points"] == 2


def test_rolling_zscore_hand_computed(spark):
    rows = [
        ("s", 0, 1.0), ("s", 10, 3.0),       # window {1,3}: mean 2, std 1
        ("s", 2000, 5.0),                     # alone in window: std 0 -> NULL z
        ("s", 2100, 5.0), ("s", 2200, 50.0),  # {5,5,50}: mean 20, std ~21.2
    ]
    df = spark.createDataFrame(rows, "series_id string, ep long, value double")
    out = {r["ep"]: r for r in
           rolling_zscore(df, by="series_id", ts="ep", val="value",
                          window_sec=300, k=1.0).collect()}
    assert out[10]["mean_w"] == 2.0 and out[10]["zscore"] == 1.0
    assert out[10]["is_anomaly"] is False  # |z| == k not > k
    assert out[2000]["zscore"] is None and out[2000]["is_anomaly"] is False
    assert out[2200]["is_anomaly"] is True and out[2200]["zscore"] > 1.0
    # duplicate timestamps share one frame -> identical stats (determinism)
    dup = spark.createDataFrame(
        [("d", 5, 1.0), ("d", 5, 9.0)], "series_id string, ep long, value double")
    rows2 = rolling_zscore(dup, by="series_id", ts="ep", val="value",
                           window_sec=10).collect()
    assert {r["mean_w"] for r in rows2} == {5.0}


def test_m4_single_exchange_plan(spark):
    df = spark.createDataFrame([("s", 0, 1.0)], "series_id string, ep long, value double")
    plan = (
        m4_downsample(df)._jdf.queryExecution().executedPlan().toString()
    )
    # one hash-aggregate pair around one exchange; no sort, no window
    assert plan.count("Exchange") <= 2  # final AQE read + shuffle
    assert "Window" not in plan


def test_bucket_percentiles_hand_computed(spark):
    from tsengine.operators.eventops import bucket_percentiles

    rows = [
        # bucket 0: values 1,2,3,4 -> type-7 linear interpolation
        ("s", 0, 1.0), ("s", 1, 2.0), ("s", 2, 3.0), ("s", 3, 4.0),
        # bucket 100: single point -> every percentile equals it, iqr 0
        ("s", 150, 7.0),
    ]
    df = spark.createDataFrame(rows, "series_id string, ep long, value double")
    out = {r["bucket"]: r for r in
           bucket_percentiles(df, width_sec=100,
                              ps=(0.25, 0.5, 0.75, 0.95, 0.99)).collect()}
    b0 = out[0]
    assert abs(b0["p25"] - 1.75) < 1e-12
    assert abs(b0["p50"] - 2.5) < 1e-12
    assert abs(b0["p75"] - 3.25) < 1e-12
    assert abs(b0["p95"] - 3.85) < 1e-12
    assert abs(b0["p99"] - 3.97) < 1e-12
    assert abs(b0["iqr"] - 1.5) < 1e-12
    assert b0["n_points"] == 4
    b1 = out[100]
    assert b1["p25"] == b1["p99"] == 7.0 and b1["iqr"] == 0.0


def test_bucket_corr_hand_computed(spark):
    from tsengine.operators.eventops import bucket_corr

    rows = [
        # perfect positive trend
        ("a", 0, 0.0, 0.0), ("a", 0, 1.0, 2.0), ("a", 0, 2.0, 4.0),
        # perfect negative trend (second bucket)
        ("a", 100, 0.0, 4.0), ("a", 100, 1.0, 2.0), ("a", 100, 2.0, 0.0),
        # zero variance in y -> NULL
        ("b", 0, 0.0, 5.0), ("b", 0, 1.0, 5.0),
        # single point -> NULL
        ("c", 0, 0.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ep long, x double, value double")
    out = {(r["series_id"], r["bucket"]): r for r in
           bucket_corr(df, x="x", width_sec=100).collect()}
    assert abs(out[("a", 0)]["r"] - 1.0) < 1e-12
    assert abs(out[("a", 100)]["r"] + 1.0) < 1e-12
    assert out[("b", 0)]["r"] is None
    assert out[("c", 0)]["r"] is None


def test_percentiles_single_aggregate_plan(spark):
    from tsengine.operators.eventops import bucket_percentiles

    df = spark.createDataFrame([("s", 0, 1.0)],
                               "series_id string, ep long, value double")
    plan = (
        bucket_percentiles(df)._jdf.queryExecution().executedPlan().toString()
    )
    # percentile is a single ObjectHashAggregate pair over one exchange;
    # no global sort, no window
    assert plan.count("Exchange") <= 2
    assert "Window" not in plan


def _lttb_reference(pts, n_out):
    """Independent scalar-python LTTB (Steinarsson 2013, floor buckets)."""
    n = len(pts)
    if n <= n_out:
        return list(pts)
    t = [p[0] for p in pts]
    v = [p[1] for p in pts]
    nb = n_out - 2
    edges = [1 + (k * (n - 2)) // nb for k in range(nb + 1)]
    sel = [0]
    prev = 0
    for k in range(nb):
        lo, hi = edges[k], edges[k + 1]
        if k + 1 < nb:
            nlo, nhi = edges[k + 1], edges[k + 2]
            cx = sum(t[nlo:nhi]) / (nhi - nlo)
            cy = sum(v[nlo:nhi]) / (nhi - nlo)
        else:
            cx, cy = t[n - 1], v[n - 1]
        best, best_area = lo, -1.0
        for i in range(lo, hi):
            area = abs((t[prev] - cx) * (v[i] - v[prev])
                       - (t[prev] - t[i]) * (cy - v[prev]))
            if area > best_area:
                best, best_area = i, area
        sel.append(best)
        prev = best
    sel.append(n - 1)
    return [pts[i] for i in sel]


def test_lttb_vs_reference(spark):
    import random

    from tsengine.operators.eventops import lttb_downsample

    rng = random.Random(7)
    pts = [(float(i * 10 + rng.randint(0, 3)), rng.uniform(-5, 5))
           for i in range(200)]
    df = spark.createDataFrame([("s", t, v) for t, v in pts],
                               "series_id string, ep double, value double")
    out = sorted((r["ep"], r["value"]) for r in
                 lttb_downsample(df, n_out=20).collect())
    exp = sorted(_lttb_reference(pts, 20))
    assert out == exp
    assert len(out) == 20


def test_lttb_passthrough_and_endpoints(spark):
    from tsengine.operators.eventops import lttb_downsample

    pts = [(float(i), float(i % 5)) for i in range(10)]
    df = spark.createDataFrame([("s", t, v) for t, v in pts],
                               "series_id string, ep double, value double")
    # n <= n_out: unchanged
    out = sorted((r["ep"], r["value"]) for r in
                 lttb_downsample(df, n_out=10).collect())
    assert out == pts
    # endpoints always kept
    out5 = sorted((r["ep"], r["value"]) for r in
                  lttb_downsample(df, n_out=5).collect())
    assert out5[0] == pts[0] and out5[-1] == pts[-1] and len(out5) == 5


def test_ewma_vs_hand_recursion(spark):
    from tsengine.operators.eventops import ewma

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0]
    a = 0.3
    exp = [vals[0]]
    for x in vals[1:]:
        exp.append(a * x + (1 - a) * exp[-1])
    rows = [("s", i, v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows,
                               "series_id string, ep long, value double, event_id long")
    out = [r["ewma"] for r in
           ewma(df, alpha=a, tiebreak="event_id").orderBy("ep").collect()]
    assert all(abs(o - e) < 1e-12 for o, e in zip(out, exp))
    # pandas parity (adjust=False semantics)
    import pandas as pd
    pd_exp = pd.Series(vals).ewm(alpha=a, adjust=False).mean().tolist()
    assert all(abs(o - e) < 1e-9 for o, e in zip(out, pd_exp))


def test_percentiles_approx_vs_exact(spark):
    from tsengine.operators.eventops import bucket_percentiles, percentiles_approx

    # deterministic skewed data: 10k values, two series
    df = spark.range(10_000).selectExpr(
        "cast(id % 2 as string) as series_id",
        "cast(id as long) as ep",
        "cast(pmod(id * 2654435761, 10000) as double) as value",
    )
    exact = bucket_percentiles(df, width_sec=1 << 62, ps=(0.5, 0.95, 0.99)).collect()
    approx = {r["series_id"]: r for r in
              percentiles_approx(df, by="series_id", accuracy=10000).collect()}
    for r in exact:
        a = approx[r["series_id"]]
        for c in ("p50", "p95", "p99"):
            # rank error <= n/accuracy = 0.5 ranks -> value error tiny on
            # a dense 0..9999 grid; allow a loose 1% of the value range
            assert abs(a[c] - r[c]) <= 100.0, (c, a[c], r[c])
        assert a["n_points"] == r["n_points"]
    # global (no key): one row, no Exchange into a single sorted task
    g = percentiles_approx(df, by=None).collect()
    assert len(g) == 1 and g[0]["n_points"] == 10_000
    plan = (
        percentiles_approx(df, by=None)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Sort" not in plan


def test_cusum_hand_computed(spark):
    from tsengine.operators.eventops import cusum

    # target 10, k 1 -> up ref 11, lo ref 9
    vals = [10.0, 13.0, 14.0, 8.0, 5.0, 5.0, 20.0]
    rows = [("s", i, v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows,
                               "series_id string, ep long, value double, event_id long")
    out = [r for r in cusum(df, target=10.0, k=1.0, h=5.0,
                            tiebreak="event_id").orderBy("ep").collect()]
    sh = sl = 0.0
    for r, x in zip(out, vals):
        sh = max(0.0, sh + (x - 11.0))
        sl = max(0.0, sl + (9.0 - x))
        assert abs(r["cusum_hi"] - sh) < 1e-12
        assert abs(r["cusum_lo"] - sl) < 1e-12
        assert r["alarm"] == (sh > 5.0 or sl > 5.0)
    # the sustained low stretch (8,5,5) must alarm on the low side
    assert out[5]["alarm"] and out[5]["cusum_lo"] > 5.0
    # recovery: the 20 resets the low sum to 0
    assert out[6]["cusum_lo"] == 0.0


def test_top_items_hand_computed(spark):
    from tsengine.operators.eventops import top_items

    rows = (
        [("u", 0, "a")] * 3 + [("u", 0, "b")] * 3 + [("u", 0, "c")] * 1
        + [("u", 100, "z")] * 2
    )
    df = spark.createDataFrame(rows, "series_id string, ep long, value string")
    out = top_items(df, width_sec=100, k=2).collect()
    got = {(r["bucket"], r["rank"]): (r["value"], r["n"]) for r in out}
    # tie at n=3 between a and b -> item asc: a first
    assert got[(0, 1)] == ("a", 3) and got[(0, 2)] == ("b", 3)
    assert (0, 3) not in got  # c cut by k=2
    assert got[(100, 1)] == ("z", 2)


def test_funnel_semantics(spark):
    from tsengine.operators.eventops import funnel

    rows = [
        # u1: clean conversion, same-second click->purchase chain counts
        (1, "view", 100), (1, "click", 200), (1, "purchase", 200),
        # u2: click BEFORE the first view never counts; later click does
        (2, "click", 50), (2, "view", 100), (2, "click", 300),
        # u3: click outside the window breaks the chain even though a
        # purchase would have been inside it
        (3, "view", 100), (3, "click", 100 + 1001), (3, "purchase", 100 + 900),
        # u4: never does step 1 -> absent from output
        (4, "click", 10), (4, "purchase", 20),
        # u5: boundary inclusive (t1 + within exactly)
        (5, "view", 0), (5, "click", 1000), (5, "purchase", 1000),
        # u6: earliest view anchors the window, not a later one
        (6, "view", 0), (6, "view", 5000), (6, "click", 1500),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ep long")
    got = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"], r["steps_reached"])
        for r in funnel(df, ["view", "click", "purchase"],
                        within_sec=1000).collect()
    }
    assert got == {
        1: (100, 200, 200, 3),
        2: (100, 300, None, 2),
        3: (100, None, None, 1),
        5: (0, 1000, 1000, 3),
        6: (0, None, None, 1),
    }


def test_funnel_unwindowed_and_plan(spark):
    from tsengine.operators.eventops import funnel

    rows = [(1, "a", 0), (1, "b", 10**9)]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ep long")
    [r] = funnel(df, ["a", "b"]).collect()
    assert (r["t_a"], r["t_b"], r["steps_reached"]) == (0, 10**9, 2)
    # scale guard: one exchange (the per-user aggregate); fold is JVM-side
    plan = (
        funnel(df, ["a", "b"], within_sec=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    import pytest as _pt
    with _pt.raises(ValueError):
        funnel(df, ["a", "a"])


def test_hopping_rollup(spark):
    from tsengine.operators.eventops import hopping_rollup

    # width 4, slide 2: event at ep=5 covers windows starting 2 and 4;
    # ep=4 covers 2 and 4 (boundary: start <= ep < start+width)
    df = spark.createDataFrame(
        [(4, 1.0), (5, 10.0), (0, 100.0)], "ep long, value double"
    )
    got = {
        r["w_start"]: (r["n"], r["sum_val"], r["mean_val"])
        for r in hopping_rollup(df, width_sec=4, slide_sec=2).collect()
    }
    assert got == {
        -2: (1, 100.0, 100.0),
        0: (1, 100.0, 100.0),
        2: (2, 11.0, 5.5),
        4: (2, 11.0, 5.5),
    }
    import pytest as _pt
    with _pt.raises(ValueError):
        hopping_rollup(df, width_sec=5, slide_sec=2)


def test_autocorr(spark):
    from tsengine.operators.eventops import autocorr

    # strictly increasing series: lag-1 pairs are perfectly correlated
    inc = [(1, i, float(i * 3 + 1)) for i in range(10)]
    # constant series: zero variance -> NULL r
    const = [(2, i, 5.0) for i in range(10)]
    # alternating series: near-perfect anticorrelation
    alt = [(3, i, float(1 if i % 2 else -1)) for i in range(10)]
    df = spark.createDataFrame(inc + const + alt,
                               "user_id long, ep long, value double")
    got = {
        r["user_id"]: (r["r"], r["n_pairs"], r["lag"])
        for r in autocorr(df, by="user_id", lag_k=1).collect()
    }
    assert got[1][0] is not None and abs(got[1][0] - 1.0) < 1e-9
    assert got[1][1:] == (9, 1)
    assert got[2][0] is None
    assert got[3][0] is not None and abs(got[3][0] + 1.0) < 1e-9
    # lag 2 on the alternating series flips to +1
    got2 = {r["user_id"]: r["r"]
            for r in autocorr(df, by="user_id", lag_k=2).collect()}
    assert abs(got2[3] - 1.0) < 1e-9


def test_state_durations(spark):
    from tsengine.operators.eventops import state_durations

    rows = [
        # u1: A at 10 (holds to 3650, crossing the hour boundary),
        #     B at 3650 (holds to 4000), A at 4000 (last: to bucket end 7200)
        (1, 10, "A", 1), (1, 3650, "B", 2), (1, 4000, "A", 3),
        # u2: duplicate-ts events — first (by tiebreak) holds 0s, dropped
        (2, 100, "X", 1), (2, 100, "Y", 2), (2, 200, "Y", 3),
    ]
    df = spark.createDataFrame(rows, "user_id long, ep long, state string, event_id long")
    got = {
        (r["user_id"], r["bucket"], r["state"]): (r["sec"], r["n_holds"])
        for r in state_durations(df, by="user_id", ts="ep", state="state",
                                 width_sec=3600, tiebreak="event_id").collect()
    }
    assert got == {
        (1, 0, "A"): (3590, 1),       # 10 -> 3600 clip
        (1, 3600, "A"): (50 + 3200, 2),  # 3600->3650 carry + 4000->7200 tail
        (1, 3600, "B"): (350, 1),     # 3650 -> 4000
        (2, 0, "Y"): (100 + 3400, 2),  # 100->200 (dup X dropped), 200->3600
    }
    # coverage identity: per (user, bucket) the state seconds sum to
    # (last hold end) - (first event ts) clipped per bucket
    assert sum(s for (u, b, st), (s, _) in got.items() if u == 1) == 7200 - 10


def test_derivative_and_integral(spark):
    from tsengine.operators.eventops import derivative, trapezoid_integral

    rows = [(1, 0, 0.0, 1), (1, 10, 20.0, 2), (1, 10, 30.0, 3), (1, 30, 30.0, 4)]
    df = spark.createDataFrame(rows, "user_id long, ep long, value double, event_id long")
    d = [
        r["deriv"]
        for r in derivative(df, by="user_id", tiebreak="event_id")
        .orderBy("ep", "value").collect()
    ]
    # first point NULL; (0->10): 20/10 = 2; dup ts -> NULL; (10->30): 0/20 = 0
    assert d[0] is None and d[1] == 2.0 and d[2] is None and d[3] == 0.0

    ti = trapezoid_integral(df, by="user_id", width_sec=3600,
                            tiebreak="event_id").collect()
    [r] = ti
    # trapezoids: (0+20)/2*10 + (20+30)/2*0 + (30+30)/2*20 = 100 + 0 + 600
    assert (r["integral"], r["covered_sec"], r["n_points"]) == (700.0, 30, 4)

    # single-point bucket integrates to zero but still emits
    one = spark.createDataFrame([(2, 5, 9.0, 1)],
                                "user_id long, ep long, value double, event_id long")
    [r1] = trapezoid_integral(one, by="user_id", width_sec=3600,
                              tiebreak="event_id").collect()
    assert (r1["integral"], r1["n_points"]) == (0.0, 1)


def test_holt_smooth(spark):
    from tsengine.operators.eventops import holt_smooth

    # linear ramp: Holt locks on (trend -> slope, one-step forecast exact);
    # EWMA would lag it forever
    rows = [(1, i, float(10 + 5 * i)) for i in range(40)]
    df = spark.createDataFrame(rows, "user_id long, ep long, value double")
    out = holt_smooth(df, by="user_id", alpha=0.5, beta=0.3).orderBy("ep").collect()
    assert out[0]["level"] == 10.0 and out[0]["trend"] == 0.0
    last = out[-1]
    assert abs(last["trend"] - 5.0) < 1e-6
    assert abs(last["level"] - last["value"]) < 1e-4
    # hand-pinned first recursion steps (alpha .5, beta .3):
    # l1 = .5*15 + .5*(10+0) = 12.5 ; b1 = .3*2.5 = .75
    assert out[1]["level"] == 12.5 and out[1]["trend"] == 0.75


def test_session_stats_single_exchange(spark):
    from tsengine.operators.eventops import session_stats

    rows = [(1, 0, 1.0, 1), (1, 100, 2.0, 2), (1, 5000, 4.0, 3)]
    df = spark.createDataFrame(rows, "user_id long, ep long, value double, event_id long")
    got = {
        r["session_idx"]: (r["n_events"], r["duration_sec"], r["value_sum"])
        for r in session_stats(df, gap_sec=1800, val="value",
                               tiebreak="event_id").collect()
    }
    assert got == {1: (2, 100, 3.0), 2: (1, 0, 4.0)}
    # the groupBy(key, session_idx) reuses the session window's key
    # partitioning: Window + HashAggregate over ONE exchange
    plan = (
        session_stats(df, gap_sec=1800, tiebreak="event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_decayed_counts_exact(spark):
    import pytest as _pt

    from tsengine.operators.eventops import decayed_counts

    DAY = 86400
    ref = 10 * DAY
    # user 1, item X: today (age 0), yesterday (age 1), 3 days ago (age 3)
    rows = [(1, "X", 10 * DAY + 5), (1, "X", 9 * DAY + 2), (1, "X", 7 * DAY),
            (1, "Y", 10 * DAY), (2, "X", 0)]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ep long")
    got = {
        (r["user_id"], r["event_type"]): (r["score"], r["n"])
        for r in decayed_counts(df, ref_ts=ref).collect()
    }
    assert got[(1, "X")] == (1.0 + 0.5 + 0.125, 3)  # exact dyadic sum
    assert got[(1, "Y")] == (1.0, 1)
    assert got[(2, "X")] == (0.5 ** 10, 1)
    with _pt.raises(ValueError):
        decayed_counts(df)  # ref_ts required


def test_decayed_counts_future_policy(spark):
    """Events newer than ref_ts: default raises in-plan, clamp floors the
    weight at 1.0, allow produces the super-unit weight explicitly."""
    import pytest as _pt

    from tsengine.operators.eventops import decayed_counts

    DAY = 86400
    ref = 5 * DAY
    rows = [(1, "X", 5 * DAY), (1, "X", 7 * DAY)]  # second is 2 days future
    df = spark.createDataFrame(rows, "user_id long, event_type string, ep long")
    with _pt.raises(Exception, match="newer than ref_ts"):
        decayed_counts(df, ref_ts=ref).collect()
    clamped = decayed_counts(df, ref_ts=ref, on_future="clamp").collect()
    assert clamped[0]["score"] == 2.0  # both weigh 1.0
    allowed = decayed_counts(df, ref_ts=ref, on_future="allow").collect()
    assert allowed[0]["score"] == 1.0 + 4.0  # 0.5^(-2)
    with _pt.raises(ValueError, match="on_future"):
        decayed_counts(df, ref_ts=ref, on_future="bogus")


def test_skew_guard_hot_key(spark):
    """VERDICT r03 task 5: one synthetic hot key 1000x the median event
    count is excluded + flagged by max_per_key instead of landing whole in
    one task; uniform data with no cap keeps the original plan/columns."""
    from tsengine.operators import eventops as E

    rows = []
    for u in range(1, 6):  # 5 uniform users, 10 events each (median = 10)
        rows += [(u, "a" if i % 2 == 0 else "b", i * 10) for i in range(10)]
    rows += [(99, "a", i) for i in range(10_000)]  # hot key: 1000x median
    df = spark.createDataFrame(rows, "user_id long, event_type string, ep long")

    # --- funnel ---
    got = {r["user_id"]: r
           for r in E.funnel(df, ["a", "b"], max_per_key=100).collect()}
    assert got[99]["overflow"] is True
    assert got[99]["t_a"] is None and got[99]["steps_reached"] is None
    for u in range(1, 6):
        assert got[u]["overflow"] is False and got[u]["steps_reached"] == 2
    # no cap: schema-stable contract — overflow present as constant False,
    # and the rest of the plan unchanged (no guard joins)
    plain = E.funnel(df, ["a", "b"])
    assert "overflow" in plain.columns
    assert plain.columns == E.funnel(df, ["a", "b"], max_per_key=100).columns
    assert plain.where(F.col("overflow")).count() == 0
    assert "Join" not in plain._jdf.queryExecution().optimizedPlan().toString()

    # (the per-series kernels: test_skew_guard_hot_key_series_kernels)

    # --- cohort_retention: excluded users -> one summary row ---
    cr = E.cohort_retention(df, width_sec=100, max_per_key=100).collect()
    pad = [r for r in cr if r["cohort"] is None]
    assert len(pad) == 1 and pad[0]["n_users"] == 1 and pad[0]["overflow"] is True
    assert all(r["overflow"] is False for r in cr if r["cohort"] is not None)
    # uniform (no hot key) with a cap: no summary row emitted
    uni = df.where(F.col("user_id") != 99)
    cr2 = E.cohort_retention(uni, width_sec=100, max_per_key=100).collect()
    assert all(r["cohort"] is not None for r in cr2)
    plain_cr = E.cohort_retention(uni, width_sec=100)
    assert plain_cr.columns == E.cohort_retention(
        uni, width_sec=100, max_per_key=100
    ).columns
    assert plain_cr.where(F.col("overflow")).count() == 0


@pytest.mark.parametrize(
    "op", ["ewma", "lttb_downsample", "cusum", "holt_smooth"])
def test_skew_guard_hot_key_series_kernels(spark, op):
    """Every per-series applyInPandas kernel under a cap: the single hot key
    (1000x the median count) is one all-NULL row flagged overflow, the
    other keys compute as without a cap, and the cap leaves the output
    columns unchanged."""
    from tsengine.operators import eventops as E

    rows = []
    for s in range(1, 6):  # 5 uniform series, 10 points each
        rows += [(s, i * 10, float(i * s)) for i in range(10)]
    rows += [(99, i, float(i % 13)) for i in range(10_000)]
    df = spark.createDataFrame(rows, "series_id long, ep long, value double")
    fn = getattr(E, op)

    capped = fn(df, max_per_key=100)
    hot = capped.where(F.col("series_id") == 99).collect()
    assert len(hot) == 1 and hot[0]["overflow"] is True
    assert all(hot[0][c] is None for c in capped.columns
               if c not in ("series_id", "overflow"))
    ok = capped.where(F.col("series_id") != 99)
    assert ok.where(F.col("overflow")).count() == 0
    assert ok.count() == 50  # 10 points each; lttb passes short series through

    plain = fn(df)
    assert plain.columns == capped.columns
    assert plain.where(F.col("overflow")).count() == 0
    assert plain.where(F.col("series_id") == 99).count() == (
        100 if op == "lttb_downsample" else 10_000)
    assert (sorted(map(tuple, ok.drop("overflow").collect()))
            == sorted(map(tuple, plain.where(F.col("series_id") != 99)
                          .drop("overflow").collect())))
