"""Scalar and pairwise series arithmetic (SURVEY.md §2.8 C1-C10, §2.3 J1).

Scalar ops (tf:588-721): plain column arithmetic; the scalar wrapper's
±inf -> NaN -> drop behavior (tf:605-606) becomes an explicit finite-filter.
``scalar_power`` truncates its exponent to int (tf:705, pinned by
timeseries_functions_tests.py:496-511).

Pairwise ops (ts_pair_operation, tf:727-756): INNER-join semantics on
(series_id, epoch) — pandas index alignment + dropna ≡ inner join — with the
reference's scalar-broadcast special case: when exactly one side of a series
pair has length 1, that side acts as a scalar over the other side's epochs
(tf:743-750).  No join is planned: both inputs are read once into one tagged
union, hash-partitioned on series_id once; a window over that partitioning
gives each series' per-side lengths and single values, and a group by
(series_id, epoch) on the same partitioning emits the aligned products or
the broadcast values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsengine.core import TsError, sql_double

# the results a scalar op (tf:605-606) or a division (tf:982-986) keeps:
# not null, not NaN, not ±inf
_FINITE = (f"value IS NOT NULL AND NOT isnan(value) AND value != {sql_double(float('inf'))}"
           f" AND value != {sql_double(float('-inf'))}")


def scalar_product(df: DataFrame, number: float = 1.0) -> DataFrame:
    """value * k (tf:614-632)."""
    return _scalar(df, f"{{}} * {sql_double(number)}")


def scalar_sum(df: DataFrame, number: float = 0.0) -> DataFrame:
    """value + k (tf:636-654)."""
    return _scalar(df, f"{{}} + {sql_double(number)}")


def scalar_division(df: DataFrame, number: float = 1.0) -> DataFrame:
    """value / k; ±inf dropped (tf:658-676, tf:605-606)."""
    return _scalar(df, f"try_divide({{}}, {sql_double(number)})")


def scalar_sub(df: DataFrame, number: float = 0.0) -> DataFrame:
    """value - k (tf:680-698)."""
    return _scalar(df, f"{{}} - {sql_double(number)}")


def scalar_power(df: DataFrame, number: float = 1.0) -> DataFrame:
    """value ** int(k) — exponent truncated to int (tf:702-721)."""
    return _scalar(df, f"power({{}}, {int(float(number))})")


def _scalar(df: DataFrame, op: str) -> DataFrame:
    """``op``: SQL text with ``{}`` where the DOUBLE value goes."""
    return df.selectExpr(
        "series_id", "epoch", f"{op.format('CAST(value AS DOUBLE)')} AS value"
    ).where(_FINITE)


# SQL of each pairwise op over two DOUBLE operands.  ANSI-safe division: the
# reference's x/0 -> inf -> dropped / 0/0 -> NaN -> dropped (tf:982-986)
# becomes try_divide -> NULL -> dropped.
_PAIR_SQL = {"add": "({} + {})", "sub": "({} - {})", "mul": "({} * {})",
             "div": "try_divide({}, {})"}


def pair_op(df1: DataFrame, df2: DataFrame, op: str) -> DataFrame:
    """Elementwise op between two series frames matched by series_id.

    - both sides multi-row (or both single): inner join on (series_id, epoch);
    - exactly one side single-row for a series: broadcast that value across
      the other side's epochs (tf:743-750);
    - NaN results dropped (tf:752); division additionally drops ±inf
      (tf:982-986).

    Plan: one tagged union of both inputs, one ``series_id`` window for the
    per-side row counts and single values, then a group by
    ``(series_id, epoch)`` that the window's partitioning already satisfies.
    Each group emits the left x right product of its values (the inner
    join's multiplicity on duplicate epochs) or the scalar broadcast over
    the multi-row side; a series on one side only has an empty list on the
    other and emits nothing.  Null inputs are left out of the collected
    lists; their results would be null and dropped anyway.
    """
    if op not in _PAIR_SQL:
        raise TsError(f"unknown pair op: {op}")
    fn = _PAIR_SQL[op].format

    u = df1.selectExpr("series_id", "epoch", "value", "TRUE AS _l").unionByName(
        df2.selectExpr("series_id", "epoch", "value", "FALSE AS _l")
    ).selectExpr(
        "series_id", "epoch", "value", "_l",
        "count_if(_l) OVER (PARTITION BY series_id) AS _n1",
        "count_if(NOT _l) OVER (PARTITION BY series_id) AS _n2",
        "max(CASE WHEN _l THEN value END) OVER (PARTITION BY series_id) AS _k1",
        "max(CASE WHEN NOT _l THEN value END) OVER (PARTITION BY series_id) AS _k2",
    )
    g = u.groupBy("series_id", "epoch").agg(
        F.expr("first(_n1) AS _n1"),
        F.expr("first(_n2) AS _n2"),
        F.expr("first(_k1) AS _k1"),
        F.expr("first(_k2) AS _k2"),
        F.expr("collect_list(CASE WHEN _l THEN value END) AS _a"),
        F.expr("collect_list(CASE WHEN NOT _l THEN value END) AS _b"),
    )
    vals = (f"CASE WHEN (_n1 = 1) = (_n2 = 1)"
            f" THEN flatten(transform(_a, a -> transform(_b, b -> {fn('a', 'b')})))"
            f" WHEN _n1 = 1 THEN transform(_b, b -> {fn('_k1', 'b')})"
            f" ELSE transform(_a, a -> {fn('a', '_k2')}) END")
    keep = _FINITE if op == "div" else "value IS NOT NULL AND NOT isnan(value)"
    return g.selectExpr("series_id", "epoch", f"explode({vals}) AS value").where(keep)


_DIM_MSG = {
    "add": "Timeseries lists must have the same dimension",  # tf:793
    "sub": "Subtraction - Timeseries list must have same dimension",  # tf:847
    "mul": "Product - Timeseries list must have same dimension",  # tf:901
    "div": "Division - Timeseries list must have same dimension",  # tf:956
}


def check_same_dimension(df1: DataFrame, df2: DataFrame, op: str = "add") -> None:
    """Pairwise-arithmetic dimension gate with the reference's per-op
    messages (tf:793/847/901/956).  The reference compares ts-LIST lengths;
    in long format the analogue is series-set equality — both operands must
    carry the same series ids (an unmatched id is exactly a missing list
    position).  One symmetric anti-join action at the trust boundary, same
    design as core.check_series (explicit, not per-operator)."""
    a = df1.select("series_id").distinct()
    b = df2.select("series_id").distinct()
    diff = a.exceptAll(b).unionAll(b.exceptAll(a))
    if diff.limit(1).count():
        raise TsError(_DIM_MSG[op])


def scalar_number_af(scalar) -> float:
    """af scalar layer's number validation — message differs from tf's
    'number is not numeric': af names the value
    ('Value received is not a number: %s', af:358-362)."""
    try:
        return float(scalar)
    except (TypeError, ValueError):
        raise TsError(f"Value received is not a number: {scalar}") from None


def scalar_product_af(df: DataFrame, scalar) -> DataFrame:
    """af scalar_product (af:356-372): same multiply as the tf scalar op,
    validated with the af layer's exact message."""
    return scalar_product(df, scalar_number_af(scalar))


def addition(*dfs: DataFrame) -> DataFrame:
    """Variadic fold of pairwise addition (tf:760-801)."""
    if len(dfs) <= 1:
        raise TsError("Addition requires at least two arguments")
    acc = dfs[0]
    for other in dfs[1:]:
        acc = pair_op(acc, other, "add")
    return acc


def subtraction(df1: DataFrame, df2: DataFrame) -> DataFrame:
    """tf:822-872."""
    return pair_op(df1, df2, "sub")


def product(df1: DataFrame, df2: DataFrame) -> DataFrame:
    """tf:876-926."""
    return pair_op(df1, df2, "mul")


def division(df1: DataFrame, df2: DataFrame) -> DataFrame:
    """÷0 / ±inf rows dropped (tf:930-986)."""
    return pair_op(df1, df2, "div")


def truncate_values(df: DataFrame, truncate_unit: float = 1.0) -> DataFrame:
    """Floor value to multiples of a unit — the *intent* of the reference's
    dead ``truncate_timeseries`` (af:376-406 has a loop-variable NameError;
    SURVEY.md §7.4 item 17: implement intent, don't reproduce the bug)."""
    u = float(truncate_unit)
    if u <= 0:
        raise TsError("truncate_unit is not positive")
    return df.select(
        "series_id", "epoch",
        (F.lit(u) * F.floor(F.col("value") / F.lit(u))).alias("value"),
    )


def round_values(df: DataFrame, round_unit: float = 1.0) -> DataFrame:
    """Round value to multiples of a unit (intent of af:421-441)."""
    u = float(round_unit)
    if u <= 0:
        raise TsError("round_unit is not positive")
    return df.select(
        "series_id", "epoch",
        (F.lit(u) * F.round(F.col("value") / F.lit(u))).alias("value"),
    )


def clean_duplicated(df: DataFrame) -> DataFrame:
    """Drop consecutive duplicate values, keep first of each run (af:619-650)."""
    w = Window.partitionBy("series_id").orderBy("epoch")
    prev = F.lag("value").over(w)
    return (
        df.withColumn("_prev", prev)
        .filter(F.col("_prev").isNull() | (F.col("value") != F.col("_prev")))
        .drop("_prev")
    )


def delete_critical_values(df: DataFrame, critical_value: float) -> DataFrame:
    """Filter out sentinel values (af:653-667)."""
    return df.filter(F.col("value") != F.lit(critical_value))
