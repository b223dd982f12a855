"""Per-series aggregations (SURVEY.md §2.4 A1-A10).

Reference semantics: each aggregate reduces a whole series to one row
stamped with the series' LAST epoch (aggregate_func, tf:412-431); results
across a ts_list are merged with a cross-series epoch-collision check
(merge_agg_func, tf:433-447).  In long format the merge is implicit
(one output row per series_id); the collision check is an explicit
invariant job used only where reference parity demands it.

All aggregates are built-in JVM-side functions (map-side partial
aggregation for free); ``inner_std`` is stddev_pop — the reference pins
POPULATION std (np.std, ddof=0; tf:554, test tf_tests:730-742).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsengine.core import TsError

# inner_<kind> -> the Spark SQL aggregate it runs
_AGGS = {"sum": "sum", "max": "max", "min": "min", "mean": "avg", "std": "stddev_pop"}


def _inner(df: DataFrame, kind: str, group_cols: list[str] | None = None) -> DataFrame:
    return df.groupBy(*(group_cols or ["series_id"])).agg(
        F.expr("max(epoch) AS epoch"), F.expr(f"{_AGGS[kind]}(value) AS value")
    )


def inner_sum(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Σ value per series, 1 row at last epoch (tf:452-469)."""
    return _inner(df, "sum", group_cols)


def inner_max(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """max per series (tf:473-490)."""
    return _inner(df, "max", group_cols)


def inner_min(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """min per series (tf:495-512)."""
    return _inner(df, "min", group_cols)


def inner_mean(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """arithmetic mean per series (tf:516-533)."""
    return _inner(df, "mean", group_cols)


def inner_std(df: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """POPULATION std per series (tf:537-554; np.std ddof=0)."""
    return _inner(df, "std", group_cols)


def last(df: DataFrame, number: int = 1) -> DataFrame:
    """Last ``number`` rows per series (tf:558-583); shorter series whole.

    Top-k per group via row_number over descending epoch — Catalyst plans a
    single shuffle + per-partition sort; no collect.
    """
    return (
        df.selectExpr("*", "row_number() OVER (PARTITION BY series_id ORDER BY epoch DESC) AS _rn")
        .where(f"_rn <= {int(number)}")
        .drop("_rn")
    )


def check_merge_collisions(df: DataFrame) -> None:
    """merge_agg_func's cross-series epoch-uniqueness assert (tf:443-444)."""
    dupes = df.groupBy("epoch").count().filter(F.col("count") > 1).limit(1).collect()
    if dupes:
        raise TsError("Non unique index")


def count_state_change(
    df: DataFrame, state_value, value_col: str = "value"
) -> DataFrame:
    """Count re-entries into ``state_value`` per series (af:221-244).

    String-compared (af:231); an entry counts when the previous element did
    not match and the current one does; a series *starting* in the state does
    not count that first run.  Stamped at the FIRST epoch (af:228).
    """
    w = Window.partitionBy("series_id").orderBy("epoch")
    cur = F.col(value_col).cast("string") == F.lit(str(state_value))
    prev = F.lag(F.col(value_col).cast("string")).over(w) == F.lit(str(state_value))
    enter = (cur & ~F.coalesce(prev, F.lit(True))).cast("long")
    return (
        df.withColumn("_e", enter)
        .groupBy("series_id")
        .agg(F.min("epoch").alias("epoch"), F.sum("_e").cast("double").alias("value"))
        .select("series_id", "epoch", "value")
    )


def histogram(
    df: DataFrame,
    lower_limit: float = 0.0,
    upper_limit: float | None = None,
    n_ints: int = 100,
    value_col: str = "value",
) -> DataFrame:
    """Equi-width histogram (non_discrete_frecuencies, af:460-502).

    Returns one row per bucket i in [0, n_ints) — including empty buckets —
    with the reference's exact bound formulas lo_i = lower + i*w and
    hi_i = upper - (n-i-1)*w (af:495).  Values with lower <= v < upper
    counted via floor((v-lower)/w) (af:498-500).
    """
    lo = float(lower_limit)
    if upper_limit is None:
        upper_limit = df.agg(F.max(value_col)).collect()[0][0]
        if upper_limit is None:
            raise TsError("unable to find upper_limit")
    hi = float(upper_limit)
    if hi <= lo:
        raise TsError("upper_limit lower than lower_limit")
    n = int(n_ints)
    if n <= 0:
        raise TsError("number of intervals lower or equal than 0")
    width = (hi - lo) / n

    counts = (
        df.filter((F.col(value_col) >= lo) & (F.col(value_col) < hi))
        .select(F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int").alias("bucket"))
        .groupBy("bucket")
        .count()
    )
    spark = df.sparkSession
    buckets = spark.range(n).select(F.col("id").cast("int").alias("bucket"))
    return (
        buckets.join(counts, "bucket", "left")
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("lo"),
            (F.lit(hi) - (F.lit(n) - F.col("bucket") - 1) * F.lit(width)).alias("hi"),
            F.coalesce("count", F.lit(0)).alias("cnt"),
        )
        .orderBy("bucket")
    )


def gaussian_smooth(frec_rows: list[tuple[float, float, int]], p_width: int = 3):
    """Gaussian-kernel weighted moving average over histogram buckets
    (af:669-686).  Post-aggregation data is tiny (n_ints rows), so this runs
    driver-side on the collected histogram, same as the reference's numpy.
    """
    import numpy as np

    inc = frec_rows[0][1] - frec_rows[0][0]
    width = inc * p_width
    x = np.array([(float(r[1]) + float(r[0])) / 2 for r in frec_rows])
    y = np.array([r[2] for r in frec_rows])
    out = []
    for ind, r in enumerate(frec_rows):
        weights = np.exp(-((x - x[ind]) ** 2) / (2 * width**2))
        out.append([r[0], r[1], float(np.average(y, weights=weights))])
    return out
