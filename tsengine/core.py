"""Long-format series frame helpers + invariant checks.

Maps the reference's runtime validators (check_ts / check_ts_list,
timeseries_functions.py:33-90) onto schema enforcement + explicit
invariant-check jobs.  Where the reference returns ``{'error': msg}`` values
and threads them monadically through pipelines (tf:35-48), this engine raises
typed exceptions at the driver (SURVEY.md §1.1: error-as-value inside
distributed data is an anti-pattern).
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine import schema

SERIES_COLS = ("series_id", "epoch", "value")


class TsError(ValueError):
    """Engine-level semantic error (the reference's {'error': ...} values)."""


def sql_double(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal holding exactly the same double.

    A bare ``0.1`` in SQL text is a DECIMAL, and ``repr`` gives ``nan`` and
    ``inf``, which SQL cannot parse.  A finite value is written as its
    shortest round-trip digits with a ``D`` suffix, parenthesised so that a
    negative value never follows a minus sign as ``--``; NaN and the
    infinities are casts of Spark's own spelling of them."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"({x!r}D)"


def series_frame(
    spark: SparkSession,
    data: Iterable[tuple[int, int, float]],
) -> DataFrame:
    """Build a series frame from (series_id, epoch, value) tuples.

    Spark-side equivalent of ``cassandra_to_ts_list`` /
    ``generate_ts_list`` (tf:205-219, tf:1053-1072): in long format the
    wire-format conversion is a plain createDataFrame.
    """
    rows = [(int(s), int(e), None if v is None else float(v)) for s, e, v in data]
    return spark.createDataFrame(rows, schema.SERIES)


def from_ts_lists(spark: SparkSession, ts_lists: Sequence[Sequence[tuple[int, float]]]) -> DataFrame:
    """ts_list literal -> long frame; list position j becomes series_id=j."""
    rows = []
    for sid, ts in enumerate(ts_lists):
        for epoch, value in ts:
            rows.append((sid, epoch, value))
    return series_frame(spark, rows)


def to_ts_lists(df: DataFrame, extra_group: str | None = None) -> list[list[list[float]]]:
    """Sink: long frame -> [[ [epoch, value], ...], ...] ordered payload.

    Distributed equivalent of ``ts_list_to_list`` / ``df_to_list``
    (tf:1076-1108): collect_list(struct) per series keeps the per-series
    payload assembly on the executors; only the final per-series rows reach
    the driver.
    """
    keys = ["series_id"] + ([extra_group] if extra_group else [])
    agg = (
        df.orderBy(*keys, "epoch")
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("epoch", "value"))).alias("pts"))
        .orderBy(*keys)
        .collect()
    )
    return [[[p["epoch"], p["value"]] for p in row["pts"]] for row in agg]


def check_series(df: DataFrame, sample_limit: int = 5) -> None:
    """Invariant-check job (reference check_ts, tf:70-90).

    Asserts: required columns, unique (series_id, epoch), non-negative epochs.
    Runs Spark actions; call explicitly at trust boundaries, not per operator.
    """
    for c in SERIES_COLS:
        if c not in df.columns:
            raise TsError(f"Element is not a timeseries: {c} column required")
    dupes = (
        df.groupBy("series_id", "epoch")
        .count()
        .filter(F.col("count") > 1)
        .limit(sample_limit)
        .collect()
    )
    if dupes:
        raise TsError(f"Non unique index: {[(r['series_id'], r['epoch']) for r in dupes]}")
    neg = df.filter(F.col("epoch") < 0).limit(sample_limit).collect()
    if neg:
        raise TsError("Element is not a timeserie: Non positive values in index")


def check_series_list(ts_lists) -> None:
    """List-level type gate for the python ts_list API surface
    (reference increments/scalar ops on a non-list argument,
    tf:328-330 via tests: 'Not a list of timeseries')."""
    if not isinstance(ts_lists, (list, tuple)):
        raise TsError("Not a list of timeseries")


def check_meter_input(ts_lists) -> None:
    """Meter-path input gate: an empty per-meter series is invalid
    (reference compute_meter_increments, af:310-312)."""
    check_series_list(ts_lists)
    for ts in ts_lists:
        if len(ts) == 0:
            raise TsError("Invalid timeserie received")


def to_float_af(df: DataFrame, value_col: str = "value") -> DataFrame:
    """af-layer float walk (rearrange_timeseries value pass, af:270-283):
    like :func:`assert_castable` but with the af layer's message, which
    names the first offending value ('Invalid value %s received',
    af:281).  NULLs pass through, matching the reference's None branch."""
    casted = df.withColumn("_c", F.col(value_col).try_cast("double"))
    bad = (
        casted.filter(F.col(value_col).isNotNull() & F.col("_c").isNull())
        .limit(1)
        .collect()
    )
    if bad:
        raise TsError(f"Invalid value {bad[0][value_col]} received")
    return casted.withColumn(value_col, F.col("_c")).drop("_c")


def ts_to_float(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Cast the value plane to double (reference ts_to_float, tf:398-405).

    Rows that fail the cast become NULL; use :func:`assert_castable` where the
    reference's 'Non scalar values found' error semantics are required.
    ``try_cast`` (not ``cast``): under Spark's ANSI default a plain cast
    throws CAST_INVALID_INPUT at execution instead of yielding NULL.
    """
    return df.withColumn(value_col, F.col(value_col).try_cast("double"))


def assert_castable(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Error-on-non-castable variant of the float cast (tf:398-405).

    ``try_cast`` so malformed values surface as the reference's own
    'Non scalar values found' TsError, not a raw ANSI CAST_INVALID_INPUT."""
    casted = df.withColumn("_casted", F.col(value_col).try_cast("double"))
    bad = casted.filter(F.col(value_col).isNotNull() & F.col("_casted").isNull()).limit(1).collect()
    if bad:
        raise TsError("Non scalar values found")
    return casted.withColumn(value_col, F.col("_casted")).drop("_casted")


def events_as_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver testdata adapter: events.parquet -> series frame.

    Mapping per FIXTURES.md §2: user_id -> series_id, unix_timestamp(ts) ->
    epoch, value -> value.  Column pruning keeps the scan at 3 columns.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # parquet ts is TIMESTAMP_NTZ; session tz is pinned UTC, so NTZ -> TZ -> long
    # matches DuckDB's floor(epoch(ts)) exactly (both truncate sub-seconds)
    return ev.select(
        F.col("user_id").alias("series_id"),
        F.col("ts").cast("timestamp").cast("long").alias("epoch"),
        F.col("value").alias("value"),
    )
