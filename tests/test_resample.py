"""Golden-vector ports: distribute (LOCF+bfill grid resample) and linear
interpolation.  Vectors from reference tests/analysis/timeseries_functions_tests.py
(test_dttsl_1..4) and tests/compound/parser_tests.py (test_ap_2, test_ap_4)."""

import pytest
from pyspark.sql.types import DoubleType

from tests.helpers import (
    RED_FLAG_JOINS,
    assert_series_equal,
    executed_plan,
    parquet_series,
    same_double,
)
from tsengine.core import from_ts_lists
from tsengine.operators.resample import distribute, distribute_linear
from tsengine.plans.api import Engine


def test_dttsl_1(spark):
    # timeseries_functions_tests.py:127-134: default grid from data bounds
    df = from_ts_lists(spark, [[(1393628450, 0.0), (1393628690, 1.0)]])
    out = distribute(df)
    assert_series_equal(out, [(0, 1393628700, 1.0)])


def test_dttsl_2(spark):
    # :137-145: explicit e_from/e_to, LOCF + leading bfill
    df = from_ts_lists(spark, [[(1393628450, 0.0), (1393628690, 1.0)]])
    out = distribute(df, seconds=100, e_from=1393628430, e_to=1393629010)
    exp = [(0, 1393628500 + 100 * i, v) for i, v in enumerate([0.0, 0.0, 1.0, 1.0, 1.0, 1.0, 1.0])]
    assert_series_equal(out, exp)


def test_dttsl_3(spark):
    # :148-157: e_from only, bfill of the leading gap
    df = from_ts_lists(spark, [[(1393628100, 0.0), (1393628400, 1.0), (1393628900, 1.0)]])
    out = distribute(df, e_from=1393627000)
    exp = [(0, 1393627200 + 300 * i, v) for i, v in enumerate([0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0])]
    assert_series_equal(out, exp)


def test_dttsl_4(spark):
    # :160-174: on-grid points pass through, off-grid LOCF
    epochs = [1393628100, 1393628400, 1393628900, 1393629500, 1393629600,
              1393629700, 1393630000, 1393630500, 1393630700, 1393631000]
    vals = [i * 500.0 for i in range(5)] + [i * 100.0 for i in range(5)]
    df = from_ts_lists(spark, [list(zip(epochs, vals))])
    out = distribute(df)
    exp_vals = [0, 500, 500, 1000, 1000, 2000, 0, 100, 200, 300, 400]
    exp = [(0, e, float(v)) for e, v in zip(range(1393628100, 1393631400, 300), exp_vals)]
    assert_series_equal(out, exp)


def test_fill_value_constant(spark):
    # tf:294-295: fill_value => exact-match reindex, no pad/bfill
    df = from_ts_lists(spark, [[(1393628100, 5.0), (1393628900, 7.0)]])
    out = distribute(df, seconds=300, fill_value=-1.0)
    exp = [
        (0, 1393628100, 5.0),
        (0, 1393628400, -1.0),
        (0, 1393628700, -1.0),
        (0, 1393629000, -1.0),  # 1393628900 is off-grid: constant fill, no pad
    ]
    assert_series_equal(out, exp)


@pytest.mark.parametrize("fill", [float("nan"), float("inf"), float("-inf"), -0.0, 0.1, 1e-300])
def test_fill_value_literal_exact(spark, fill):
    """The fill constant reaches the output as the very same double, the
    non-finite values and the signed zero included, and ``value`` stays
    DOUBLE."""
    df = from_ts_lists(spark, [[(1393628100, 5.0), (1393628900, 7.0)]])
    out = distribute(df, seconds=300, fill_value=fill)
    assert out.schema["value"].dataType == DoubleType()
    got = sorted((r["epoch"], r["value"]) for r in out.collect())
    exp = [(1393628100, 5.0), (1393628400, fill), (1393628700, fill), (1393629000, fill)]
    assert [e for e, _ in got] == [e for e, _ in exp]
    assert all(same_double(g, e) for (_, g), (_, e) in zip(got, exp)), got


def test_ap_4_meter28_distribute(spark):
    # parser_tests.py:208-238: the 28-point gas meter distributed to 3600s
    from tests.meter28 import INDEX_LIST, VALUE_LIST

    df = from_ts_lists(spark, [list(zip(INDEX_LIST, [float(v) for v in VALUE_LIST]))])
    out = distribute(df, seconds=3600, e_from=1398895201, e_to=1401573600)
    got = sorted((r["epoch"], r["value"]) for r in out.collect())
    assert len(got) == 744
    assert got[0] == (1398898800, 5706.74)
    assert got[-1] == (1401573600, 15513.87)
    # spot values at fill boundaries (parser_tests.py:216-229)
    gd = dict(got)
    assert gd[1398960000] == 5706.74
    assert gd[1398963600] == 6071.85
    assert gd[1401516000] == 14127.52
    assert gd[1401519600] == 15513.87


def test_multi_series_independent_grids(spark):
    df = from_ts_lists(
        spark,
        [
            [(100, 1.0), (250, 2.0)],
            [(1000, 10.0), (1500, 20.0)],
        ],
    )
    out = distribute(df, seconds=100)
    assert_series_equal(
        out,
        [
            (0, 100, 1.0),
            (0, 200, 1.0),
            (0, 300, 2.0),
            (1, 1000, 10.0),
            (1, 1100, 10.0),
            (1, 1200, 10.0),
            (1, 1300, 10.0),
            (1, 1400, 10.0),
            (1, 1500, 20.0),
        ],
    )


def test_linear_interp_basic(spark):
    # af:505-570 semantics: pivots in [ceil(first), last), lerp between brackets
    df = from_ts_lists(spark, [[(0, 0.0), (1000, 100.0)]])
    out = distribute_linear(df, time_int=250)
    assert_series_equal(
        out,
        [(0, 0, 0.0), (0, 250, 25.0), (0, 500, 50.0), (0, 750, 75.0)],
    )


def test_linear_interp_reset(spark):
    # reset-aware interpolation (af:548-555): decrease under 'increasing'
    # interpolates from reset_value
    df = from_ts_lists(spark, [[(0, 100.0), (100, 40.0)]])
    out = distribute_linear(df, time_int=50, monotony="increasing", reset_value=0.0)
    # pivot 0: coincident -> prev=point(0,100), next=(100,40): reset branch:
    # 0 + (0/100)*(40-0) = 0.0 ; pivot 50: 0 + (50/100)*40 = 20
    assert_series_equal(out, [(0, 0, 0.0), (0, 50, 20.0)])


def test_linear_interp_single_point_empty(spark):
    df = from_ts_lists(spark, [[(500, 1.0)]])
    assert distribute_linear(df, time_int=100).count() == 0


# ---- plan shapes: each input read once and shuffled once ----

T0 = 1393628100


@pytest.fixture
def pq_series(spark, tmp_path):
    data = [(s, T0 + 300 * i + 7 * s, float(i)) for s in range(3) for i in range(40)]
    return parquet_series(spark, tmp_path / "series.parquet", data)


@pytest.mark.parametrize(
    "resample",
    [
        lambda df: distribute(df, seconds=600),
        lambda df: distribute(df, seconds=600, e_from=T0 - 3600, e_to=T0 + 86400),
        lambda df: distribute(df, seconds=600, fill_value=-1.0),
        lambda df: distribute_linear(df, time_int=600),
    ],
    ids=["locf", "locf_bounds", "fill_value", "linear"],
)
def test_distribute_plan_one_scan_one_exchange(pq_series, resample):
    """The grid rows come from the partitioned stream itself: no bounds
    aggregate, no second scan, one hash exchange on series_id."""
    plan = executed_plan(resample(pq_series))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Aggregate" not in plan, plan
    assert not any(f in plan for f in RED_FLAG_JOINS), plan


def test_get_increments_plan_one_scan(spark, pq_series):
    """In-range rows and the pre-window anchor come from one scan and one
    window; distribute and increments reuse its partitioning."""
    eng = Engine(spark, pq_series)
    now = T0 + 86400
    for kw in ({"range": "last_day"}, {"range": "last_day", "count": 5}):
        plan = executed_plan(eng.get_increments(1, time_int=3600, now=now, **kw))
        assert plan.count("FileScan parquet") == 1, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert not any(f in plan for f in RED_FLAG_JOINS), plan
