"""Ordered diffs with meter-reset handling (SURVEY.md §2.5 W2/W3, §2.4 A8).

- :func:`increments` — reference ``ts_increments``/``increments``
  (timeseries_functions.py:307-395): per-series lag diff; on a reset
  (decrease under 'increasing' / increase under 'decreasing') the increment
  is ``value - reset_value`` plus ``max_value - prev`` when max_value is
  given (tf:380-395); the diff is stamped on the *second* epoch and the
  first row is dropped (tf:367-377).  The reference's per-row
  ``apply(axis=1)`` hotspot (tf:371) becomes a pure column expression.
- :func:`validate_monotony` — the pre-diff range validation (tf:356-365),
  as an explicit action-running check job.
- :func:`meter_increments_total` — legacy ``compute_meter_increments``
  (analysis_functions.py:305-336) incl. its pinned skipped-final-pair quirk
  (af:323-332, pinned by analysis_functions_tests.py:127-145).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsengine.core import TsError, sql_double

MONOTONIES = ("increasing", "decreasing", "non_monotonous", "non-monotonous")


def validate_monotony(
    df: DataFrame,
    monotony: str = "increasing",
    max_value: float | None = None,
    reset_value: float = 0.0,
) -> None:
    """Reject out-of-range series before diffing (tf:356-365).  Runs an action."""
    rv = float(reset_value)
    if monotony == "increasing":
        if df.filter(F.col("value") < rv).limit(1).count():
            raise TsError("value lower than reset_value")
        if max_value is not None and float(max_value) and df.filter(F.col("value") > float(max_value)).limit(1).count():
            raise TsError("value greater than max_value")
    elif monotony == "decreasing":
        if df.filter(F.col("value") > rv).limit(1).count():
            raise TsError("value greater than reset value")
        if max_value is not None and float(max_value) and df.filter(F.col("value") < float(max_value)).limit(1).count():
            raise TsError("value lower than max_value")


def _lazy_bounds_check(
    df: DataFrame, monotony: str, max_value: float | None, reset_value: float
) -> DataFrame:
    """Fold the range validation into the plan itself: every value passes
    through a raise_error branch that fires DURING the single job (at the
    sink) instead of running the reference's two eager pre-scan count
    actions.  Same rejection conditions and messages as
    :func:`validate_monotony`."""
    checks: list[tuple] = []
    if monotony == "increasing":
        checks.append((F.col("value") < F.lit(reset_value), "value lower than reset_value"))
        if max_value is not None and max_value:
            checks.append((F.col("value") > F.lit(max_value), "value greater than max_value"))
    elif monotony == "decreasing":
        checks.append((F.col("value") > F.lit(reset_value), "value greater than reset value"))
        if max_value is not None and max_value:
            checks.append((F.col("value") < F.lit(max_value), "value lower than max_value"))
    v = F.col("value")
    for cond, msg in checks:
        v = F.when(cond, F.raise_error(F.lit(msg))).otherwise(v)
    return df.withColumn("value", v)


def increments(
    df: DataFrame,
    monotony: str = "increasing",
    max_value: float | None = None,
    reset_value: float = 0.0,
    validate: bool | str = True,
) -> DataFrame:
    """Per-series ordered diff with reset handling.

    ``validate`` modes:
    - ``True`` — the reference's eager range validation (tf:356-365): up to
      two extra count actions BEFORE the diff, raising :class:`TsError`;
    - ``"lazy"`` — the same rejection folded into the column expression via
      ``raise_error``, so the bounds are enforced during the one job that
      computes the result (no extra scan; the error surfaces at the sink as
      a Spark execution error carrying the same message);
    - ``False`` — skip, for pipelines where bounds hold by construction.
    """
    if monotony not in MONOTONIES:
        # the reference accepts any string and treats unknowns as plain diff;
        # we keep that behavior (tf:380-395 falls through to else).
        pass
    rv = float(reset_value)
    mv = None if max_value is None else float(max_value)
    if validate == "lazy":
        df = _lazy_bounds_check(df, monotony, mv, rv)
    elif validate:
        validate_monotony(df, monotony, mv, rv)

    inc = "value - _prev"
    reset = {"increasing": "_prev > value", "decreasing": "_prev < value"}.get(monotony)
    if reset is not None:
        wrap = sql_double(0.0) if mv is None else f"({sql_double(mv)} - _prev)"
        inc = f"CASE WHEN {reset} THEN value - {sql_double(rv)} + {wrap} ELSE {inc} END"
    return (
        df.selectExpr(
            "series_id", "epoch", "value",
            "lag(value) OVER (PARTITION BY series_id ORDER BY epoch) AS _prev",
        )
        .where("_prev IS NOT NULL")
        .selectExpr("series_id", "epoch", f"{inc} AS value")
    )


def meter_increments_total(df: DataFrame, reset_value: float = 0.0) -> DataFrame:
    """Total increment per series, legacy semantics (af:305-336).

    Quirk reproduced deliberately: the loop bounds ``range(1, len-1)`` skip
    the final pair's increment (af:323-332); a single-point series yields 0.
    Result stamped at the *first* epoch (af:314).
    """
    rv = float(reset_value)
    w = Window.partitionBy("series_id").orderBy("epoch")
    prev = F.lag("value").over(w)
    rn = F.row_number().over(w)
    n = F.count("*").over(Window.partitionBy("series_id"))
    pair_inc = F.when(F.col("value") >= prev, F.col("value") - prev).otherwise(
        F.col("value") - F.lit(rv)
    )
    # pairs stamped on rows 2..n-1 (the (n-1,n) pair is skipped, af:323)
    contrib = F.when((rn >= 2) & (rn <= n - 1), pair_inc).otherwise(F.lit(0.0))
    return (
        df.withColumn("_c", contrib)
        .groupBy("series_id")
        .agg(F.min("epoch").alias("epoch"), F.sum("_c").alias("value"))
        .select("series_id", "epoch", "value")
    )
