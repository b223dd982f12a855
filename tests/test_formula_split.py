"""split(...) in the compound language: sub-series are (series_id, bucket)
pairs, ranked into list positions only for consumers that see positions.

- The merged ``inner_*`` aggregates group on (series_id, bucket), so an
  ``inner_*(split(...))`` plan scans its source once and joins nothing.
- Every positional consumer (pairwise ops, ``increments``, ``last``, a
  second ``split``, the final frame of ``Engine.query``) gets the same rows
  as ranking the split first: checked against a rank computed in Python
  from the split frame's rows.
"""

import json

import pytest
from pyspark.sql import functions as F

from tests.helpers import RED_FLAG_JOINS, executed_plan, parquet_series, rows
from tsengine.core import series_frame
from tsengine.operators import aggregates as agg
from tsengine.operators import arithmetic as arith
from tsengine.operators.increments import increments
from tsengine.operators.split import split
from tsengine.plans.api import Engine

T0 = 1393628100  # 2014-02-28 23:55 Madrid: hourly points cross 3 day buckets


def _series(sid, n, step=3600, shift=0):
    """A rising meter: increments stay non-negative."""
    return [(T0 + shift + step * i, float((sid + 1) * i + (i * i) % 7)) for i in range(n)]


def _ts_text(*series):
    return json.dumps([{"index": [e for e, _ in s], "value": [v for _, v in s]}
                       for s in series])


A = [_series(0, 60), _series(1, 50, shift=1800)]
B = [_series(2, 60), _series(3, 50, shift=1800)]
GEN_A = f"generate_ts_list({_ts_text(*A)})"
GEN_B = f"generate_ts_list({_ts_text(*B)})"


def _frame(spark, lists):
    return series_frame(spark, [(sid, e, v) for sid, s in enumerate(lists) for e, v in s])


def _rank_first(spark, df):
    """The split frame re-keyed to flatten positions, ranked in Python:
    sub-series in (series_id, bucket) order get positions 0, 1, ..."""
    got = df.select("series_id", "bucket", "epoch", "value").collect()
    pos = {k: i for i, k in enumerate(sorted({(r[0], r[1]) for r in got}))}
    return series_frame(spark, [(pos[(r[0], r[1])], r[2], r[3]) for r in got])


def _at0(df):
    return df.select(F.lit(0).cast("long").alias("series_id"), "epoch", "value")


def _rounded(df):
    return [(s, e, None if v is None else round(v, 9)) for s, e, v in rows(df)]


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, _frame(spark, A))


def _expected(spark, case):
    a, b = _frame(spark, A), _frame(spark, B)
    rk = lambda df: _rank_first(spark, split(df, period="day"))  # noqa: E731
    return {
        "increments": lambda: increments(rk(a)),
        "addition": lambda: arith.addition(rk(a), rk(b)),
        "split_split": lambda: _rank_first(spark, split(_rank_first(
            spark, split(a, period="hour")), period="day")),
        "last": lambda: _at0(agg.last(rk(a), number=2)),
        "top_split": lambda: rk(a),
        "inner_sum": lambda: _at0(agg.inner_sum(rk(a))),
        "inner_max": lambda: _at0(agg.inner_max(rk(a))),
        "inner_mean": lambda: _at0(agg.inner_mean(rk(a))),
        "inner_std": lambda: _at0(agg.inner_std(rk(a))),
    }[case]()


FORMULAS = {
    "increments": f"increments(split({GEN_A}; period = day))",
    "addition": f"addition(split({GEN_A}; period = day); split({GEN_B}; period = day))",
    "split_split": f"split(split({GEN_A}; period = hour); period = day)",
    "last": f"last(split({GEN_A}; period = day); number = 2)",
    "top_split": f"split({GEN_A}; period = day)",
    "inner_sum": f"inner_sum(split({GEN_A}; period = day))",
    "inner_max": f"inner_max(split({GEN_A}; period = day))",
    "inner_mean": f"inner_mean(split({GEN_A}; period = day))",
    "inner_std": f"inner_std(split({GEN_A}; period = day))",
}


@pytest.mark.parametrize("case", list(FORMULAS))
def test_split_consumers_match_rank_first(spark, engine, case):
    """Each consumer of a split returns the rows of ranking the split's
    sub-series into flatten positions first (tf:1020, tf:795-799)."""
    out = engine.query(FORMULAS[case])
    assert out.columns == ["series_id", "epoch", "value"]
    got, exp = _rounded(out), _rounded(_expected(spark, case))
    assert len(got) > 1 and got == exp


def _plan_engine(spark, tmp_path):
    data = [(s, T0 + 600 * i, float(i * (s + 1))) for s in range(2) for i in range(600)]
    return Engine(spark, parquet_series(spark, tmp_path / "series.parquet", data))


def _assert_scan_once_no_join(df):
    plan = executed_plan(df)
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert not any(f in plan for f in RED_FLAG_JOINS), plan


def test_inner_over_split_plan_scans_once(spark, tmp_path):
    """inner_mean(split(get_variable(...))) groups on (series_id, bucket):
    one parquet scan, no join back onto ranked keys."""
    eng = _plan_engine(spark, tmp_path)
    out = eng.query(
        f"inner_mean(split(get_variable(1; time_int = 3600; now = {T0 + 4 * 86400};"
        " range = last_week); period = day))"
    )
    _assert_scan_once_no_join(out)
    assert out.count() >= 4


def test_usage_group_by_plan_scans_once(spark, tmp_path):
    eng = _plan_engine(spark, tmp_path)
    out = eng.usage(1, time_int=3600, now=T0 + 4 * 86400, range="last_week",
                    group_by="day")
    _assert_scan_once_no_join(out)
    assert out.count() >= 4
