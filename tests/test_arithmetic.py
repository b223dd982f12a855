"""Golden-vector ports: scalar ops and pairwise joins.
Vectors from timeseries_functions_tests.py:309-511 (scalar) and 794-1175
(addition/product/division incl. scalar broadcast and ÷0 drops), plus a
differential test of the pairwise ops against tests/pair_reference.py."""

import math
import random

import pytest
from pyspark.sql.types import DoubleType

from tests.helpers import (
    RED_FLAG_JOINS,
    assert_series_equal,
    executed_plan,
    parquet_series,
    rows,
    same_double,
)
from tests.pair_reference import pair_op_reference
from tsengine.core import TsError, from_ts_lists, series_frame
from tsengine.operators.arithmetic import (
    addition,
    clean_duplicated,
    delete_critical_values,
    division,
    pair_op,
    product,
    round_values,
    scalar_division,
    scalar_power,
    scalar_product,
    scalar_sub,
    scalar_sum,
    subtraction,
    truncate_values,
)

EPOCHS10 = [1393628100, 1393628400, 1393628900, 1393629500, 1393629600,
            1393629700, 1393630000, 1393630500, 1393630700, 1393631000]


def test_scp_1(spark):
    vals = [500.0] * 5 + [100.0] * 5
    df = from_ts_lists(spark, [list(zip(EPOCHS10, vals))])
    out = scalar_product(df, number=2.0)
    assert_series_equal(out, [(0, e, v * 2) for e, v in zip(EPOCHS10, vals)])


def test_scdiv_3_negative(spark):
    df = from_ts_lists(spark, [[(i, -1.0) for i in range(10)]])
    assert_series_equal(scalar_division(df, number=-5), [(0, i, 0.2) for i in range(10)])


def test_scsub_multi_series(spark):
    df = from_ts_lists(
        spark,
        [[(i, -1.0) for i in range(10)], [(i, -float(i)) for i in range(10)]],
    )
    out = scalar_sub(df, number=-5)
    exp = [(0, i, 4.0) for i in range(10)] + [(1, i, 5.0 - i) for i in range(10)]
    assert_series_equal(out, exp)


def test_scpow_3_int_truncation(spark):
    # tf:705: exponent truncated to int — k=-2.5 acts as -2 (test :496-511)
    df = from_ts_lists(
        spark,
        [[(i, 2.0) for i in range(10)], [(i, -1.0) for i in range(10)]],
    )
    out = scalar_power(df, number=-2.5)
    exp = [(0, i, 0.25) for i in range(10)] + [(1, i, 1.0) for i in range(10)]
    assert_series_equal(out, exp)


def test_scs_6(spark):
    df = from_ts_lists(
        spark,
        [[(i, -float(i)) for i in range(10)], [(i, 0.0) for i in range(10)]],
    )
    out = scalar_sum(df, number=10)
    exp = [(0, i, 10.0 - i) for i in range(10)] + [(1, i, 10.0) for i in range(10)]
    assert_series_equal(out, exp)


@pytest.mark.parametrize("op, fn", [(scalar_sum, lambda v, k: v + k),
                                    (scalar_product, lambda v, k: v * k)])
@pytest.mark.parametrize("k", [0.1, 1e-300])
def test_scalar_literal_exact(spark, op, fn, k):
    """A scalar that SQL would read as a DECIMAL (0.1) or that is tiny
    (1e-300) gives bit-for-bit the double arithmetic, and ``value`` stays
    DOUBLE."""
    vals = [1.0, 3.0, -2.5, 1e300, 7e-301]
    out = op(from_ts_lists(spark, [list(enumerate(vals))]), number=k)
    assert out.schema["value"].dataType == DoubleType()
    got = sorted((r["epoch"], r["value"]) for r in out.collect())
    assert [e for e, _ in got] == list(range(len(vals)))
    assert all(same_double(g, fn(v, k)) for (_, g), v in zip(got, vals)), got


# ---- pairwise (ts_pair_operation, tf:727-756) ----

def test_add_2(spark):
    a = from_ts_lists(spark, [[(i, 1.0) for i in range(10)]])
    b = from_ts_lists(spark, [[(i, 3.0) for i in range(1, 6)]])
    out = addition(a, b)
    assert_series_equal(out, [(0, i, 4.0) for i in range(1, 6)])


def test_add_5_positional(spark):
    a = from_ts_lists(
        spark,
        [
            [(1390000000 + 300 * i, float(i)) for i in range(1000)],
            [(1390000000 + 300 * i, 2.0 * (i - 1000)) for i in range(1000, 2000)],
        ],
    )
    b = from_ts_lists(
        spark,
        [
            [(1390000000 + 300 * i, float(i)) for i in range(1000)],
            [(1390000000 + 300 * i, -float(i - 1000)) for i in range(1000, 2000)],
        ],
    )
    out = addition(a, b)
    exp = [(0, 1390000000 + 300 * i, 2.0 * i) for i in range(1000)]
    exp += [(1, 1390000000 + 300 * i, float(i - 1000)) for i in range(1000, 2000)]
    assert_series_equal(out, exp)


def test_prod_1_scalar_broadcast(spark):
    # tf:743-750: single-row side acts as a scalar over the other's epochs
    a = from_ts_lists(spark, [[(i, 500.0) for i in range(5)]])
    b = from_ts_lists(spark, [[(0, 2.0)]])
    out = product(a, b)
    assert_series_equal(out, [(0, i, 1000.0) for i in range(5)])


def test_prod_2_both_single_same_epoch(spark):
    a = from_ts_lists(spark, [[(0, 2.0)]])
    b = from_ts_lists(spark, [[(0, 2.0)]])
    assert_series_equal(product(a, b), [(0, 0, 4.0)])


def test_prod_3_both_single_diff_epoch_empty(spark):
    a = from_ts_lists(spark, [[(0, 2.0)]])
    b = from_ts_lists(spark, [[(1, 2.0)]])
    assert product(a, b).count() == 0


def test_prod_7_mixed(spark):
    a = from_ts_lists(
        spark,
        [
            [(i, float(i)) for i in range(1000)],
            [(2 * i, float(i)) for i in range(1000)],
        ],
    )
    b = from_ts_lists(
        spark,
        [
            [(2 * i, float(i)) for i in range(1000)],
            [(i, 1.0) for i in range(500)],
        ],
    )
    out = product(a, b)
    exp = [(0, 2 * i, float(2 * i) * i) for i in range(500)]
    exp += [(1, 2 * i, float(i)) for i in range(250)]
    assert_series_equal(out, exp)


def test_div_4_zero_dropped(spark):
    a = from_ts_lists(spark, [[(1393628100 + 300 * i, float(i)) for i in range(1000)]])
    b = from_ts_lists(spark, [[(1393628100 + 600 * i, 0.0) for i in range(500)]])
    # all coincident epochs divide by 0 -> inf/NaN -> dropped (tf:982-986)
    assert division(a, b).count() == 0


def test_div_5_scalar_broadcast_per_series(spark):
    a = from_ts_lists(
        spark,
        [
            [(1393628100 + 300 * i, float(i)) for i in range(1000)],
            [(1393928100 + 300 * i, float(i) + 100) for i in range(1000)],
        ],
    )
    b = from_ts_lists(spark, [[(1393628100, 500.0)], [(1393928100, 600.0)]])
    out = division(a, b)
    exp = [(0, 1393628100 + 300 * i, i / 500.0) for i in range(1000)]
    exp += [(1, 1393928100 + 300 * i, (i + 100) / 600.0) for i in range(1000)]
    assert_series_equal(out, exp)


# per-series side sizes: 0 = absent, 1 = single row, "m" = several rows
_SHAPES = [(1, 1), (1, "m"), ("m", 1), ("m", "m"), (0, "m"), ("m", 0), (0, 1), (1, 0)]
_SPECIAL = [None, math.nan, math.inf, -math.inf, 0.0]


def _random_side(rng, sid, size):
    n = {0: 0, 1: 1, "m": rng.randint(2, 7)}[size]
    out = []
    for _ in range(n):
        # epochs from a pool of 5 so both sides repeat epochs often
        e = 300 * rng.randint(0, 4)
        v = rng.choice(_SPECIAL) if rng.random() < 0.3 else float(rng.randint(-4, 4))
        out.append((sid, e, v))
    return out


def _random_pair_rows(seed, n_series=64):
    rng = random.Random(seed)
    rows1, rows2 = [], []
    for sid in range(n_series):
        s1, s2 = _SHAPES[sid % len(_SHAPES)]
        rows1 += _random_side(rng, sid, s1)
        rows2 += _random_side(rng, sid, s2)
    return rows1, rows2


@pytest.mark.parametrize("op", ["add", "sub", "mul", "div"])
def test_pair_op_matches_reference(spark, op):
    """pair_op == the pure-Python tf:727-756 reference on random frames:
    duplicate epochs on one or both sides, single-row series on either or
    both sides, one-sided series, null/NaN/±inf values and ÷0."""
    rows1, rows2 = _random_pair_rows(seed=["add", "sub", "mul", "div"].index(op))
    got = rows(pair_op(series_frame(spark, rows1), series_frame(spark, rows2), op))
    exp = sorted(pair_op_reference(rows1, rows2, op))
    assert got == exp


def test_product_formula_plan_scans_each_operand_once(spark, tmp_path):
    """product(get_variable(a); get_variable(b)): one parquet scan and one
    exchange per operand, plus the one exchange of the tagged union; no
    join at all, so no Cartesian or nested-loop join."""
    from tsengine.plans.api import Engine

    t0 = 1393628100
    data = [(s, t0 + 600 * i, float(i + s)) for s in range(2) for i in range(200)]
    eng = Engine(spark, parquet_series(spark, tmp_path / "series.parquet", data))
    gv = "get_variable({}; time_int = 3600; now = %d; range = last_week)" % (t0 + 86400)
    out = eng.query(f"product({gv.format(0)}; {gv.format(1)})")
    plan = executed_plan(out)
    assert plan.count("FileScan parquet") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "Join" not in plan, plan
    assert not any(f in plan for f in RED_FLAG_JOINS), plan
    # both operands are on the same hourly grid: one product row per point
    assert out.count() == eng.query(gv.format(0)).count() > 0


def test_subtraction_identity(spark):
    a = from_ts_lists(spark, [[(i, float(i)) for i in range(10)]])
    out = subtraction(a, a)
    assert_series_equal(out, [(0, i, 0.0) for i in range(10)])


def test_addition_requires_two(spark):
    a = from_ts_lists(spark, [[(0, 1.0)]])
    with pytest.raises(TsError):
        addition(a)


# ---- clean/filter/round (af:376-441, 619-667) ----

def test_clean_duplicated(spark):
    df = from_ts_lists(spark, [[(1, 1.0), (2, 1.0), (3, 2.0), (4, 2.0), (5, 1.0)]])
    assert_series_equal(clean_duplicated(df), [(0, 1, 1.0), (0, 3, 2.0), (0, 5, 1.0)])


def test_delete_critical_values(spark):
    df = from_ts_lists(spark, [[(1, 1.0), (2, -999.0), (3, 2.0)]])
    assert_series_equal(delete_critical_values(df, -999.0), [(0, 1, 1.0), (0, 3, 2.0)])


def test_truncate_round_intent(spark):
    df = from_ts_lists(spark, [[(1, 7.6), (2, 12.4)]])
    assert_series_equal(truncate_values(df, 5), [(0, 1, 5.0), (0, 2, 10.0)])
    assert_series_equal(round_values(df, 5), [(0, 1, 10.0), (0, 2, 10.0)])
