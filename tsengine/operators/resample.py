"""Resampling / gap-fill (SURVEY.md §2.5 W1, W4).

- :func:`distribute` — reference ``distribute_ts`` /
  ``distribute_ts_list`` (timeseries_functions.py:224-302): reindex each
  series to a grid of epochs at multiples of ``seconds``, LOCF ('pad') then
  bfill for leading gaps, or constant ``fill_value`` (no pad/bfill at all,
  tf:294-295).
- :func:`distribute_linear` — reference ``distr_std_timeseries``
  (analysis_functions.py:505-570): linear interpolation onto the grid, with
  meter-reset-aware interpolation from ``reset_value``.

Scale notes: the input is read once and hash-partitioned on ``series_id``
once.  A window over that partitioning gives each series' bounds, its
first row explodes the series' grid (sequence + inline) into the same
stream, and the gap-fill windows run over the same partitioning — one
shuffle, never range-split mid-series (LOCF must see the whole series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsengine.core import TsError


def _grid_bounds(step: int, lo, hi):
    """Exact grid rounding (tf:284-291): e_from ceils to the next multiple,
    e_to floors then +step; python-range end-exclusive means the last grid
    point is ``floor(e_to/s)*s + s`` minus one step when on-grid... pinned:
    grid = [ceil(lo/s)*s, g1) step s where g1 = (floor(hi/s)+1)*s (+s if
    hi not on-grid). Inclusive last point = g1 - s."""
    s = F.lit(step)
    g0 = s * F.floor(lo / s)
    g0 = F.when(lo % s != 0, g0 + s).otherwise(g0)
    g1 = s * (F.floor(hi / s) + 1)
    g1 = F.when(hi % s != 0, g1 + s).otherwise(g1)
    return g0.cast("long"), (g1 - s).cast("long")


def _with_grid(df: DataFrame, step: int, bounds) -> DataFrame:
    """The points of ``df`` tagged ``_g=0`` plus one null-valued ``_g=1``
    row per grid epoch, in one stream hash-partitioned on ``series_id``.

    ``bounds(lo, hi)`` maps a series' first and last observation epochs to
    its first and last grid epoch (no grid if the last is below the first
    or null).  The bounds come from a window, and the grid rows are
    exploded from each series' first row, so the input is read and
    shuffled once and every later window reuses its partitioning.
    """
    w = Window.partitionBy("series_id").orderBy("epoch")
    x = df.select(
        "series_id", "epoch", F.col("value").cast("double").alias("value"),
        F.row_number().over(w).alias("_rn"),
        F.max("epoch").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_hi"),
    )
    # on the first row (ascending epoch) its own epoch is the series minimum
    g0, g1 = bounds(F.col("epoch"), F.col("_hi"))
    epochs = F.when(g1 >= g0, F.sequence(g0, g1, F.lit(step).cast("long"))).otherwise(
        F.array().cast("array<long>")
    )
    pt = F.array(F.struct("epoch", "value", F.lit(0).alias("_g")))
    gs = F.transform(
        epochs,
        lambda e: F.struct(e.alias("epoch"), F.lit(None).cast("double").alias("value"),
                           F.lit(1).alias("_g")),
    )
    rows = F.when(F.col("_rn") == 1, F.concat(pt, gs)).otherwise(pt)
    return x.select("series_id", F.inline(rows))


def distribute(
    df: DataFrame,
    seconds: int = 300,
    e_to: int | None = None,
    e_from: int | None = None,
    fill_value: float | None = None,
) -> DataFrame:
    """Resample each series to multiples of ``seconds`` with LOCF+bfill.

    Exact reference semantics (SURVEY.md §7.4 items 1-3):
    - grid rounding per tf:284-291;
    - LOCF: a grid point takes the value of the last observation <= it
      (an observation exactly on-grid wins), tf:297;
    - leading NaNs backfilled from the first observation, tf:300;
    - ``fill_value`` given => exact-match reindex with constant fill, no
      pad/bfill (tf:294-295).
    """
    seconds = int(seconds)
    if seconds <= 0:
        raise TsError("seconds must be a positive integer")
    u = _with_grid(df, seconds, lambda lo, hi: _grid_bounds(
        seconds,
        F.lit(int(e_from)) if e_from is not None else lo,
        F.lit(int(e_to)) if e_to is not None else hi,
    ))

    if fill_value is not None:
        # exact-match reindex: a point survives iff a grid row shares its
        # epoch (duplicates kept, as a left join keeps them); a grid row
        # survives iff no point does
        at = Window.partitionBy("series_id", "epoch")
        u = u.select(
            "series_id", "epoch", "value", "_g",
            F.max("_g").over(at).alias("_on"),
            F.min("_g").over(at).alias("_alone"),
        ).filter(F.when(F.col("_g") == 0, F.col("_on") == 1).otherwise(F.col("_alone") == 1))
        return u.select(
            "series_id", "epoch", F.coalesce("value", F.lit(float(fill_value))).alias("value")
        )

    # LOCF then bfill: two frames over the grid stream's partitioning.
    w = Window.partitionBy("series_id").orderBy("epoch", "_g")
    pad = F.last("value", ignorenulls=True).over(w.rowsBetween(Window.unboundedPreceding, 0))
    u = u.withColumn("_pad", pad).filter(F.col("_g") == 1)
    # bfill as a running last() over DESC order: (current, unboundedFollowing)
    # ascending == (unboundedPreceding, current) descending.  The descending
    # frame GROWS row-by-row (O(n) incremental in WindowExec); the ascending
    # first()-over-following frame SHRINKS, which Spark recomputes from
    # scratch per row — O(n^2) per series.
    wb = Window.partitionBy("series_id").orderBy(F.col("epoch").desc())
    bfill = F.last("_pad", ignorenulls=True).over(
        wb.rowsBetween(Window.unboundedPreceding, 0)
    )
    return u.select("series_id", "epoch", bfill.alias("value"))


def distribute_linear(
    df: DataFrame,
    time_int: int = 900,
    monotony: str = "increasing",
    reset_value: float = 0.0,
) -> DataFrame:
    """Linear-interpolation resampling (analysis_functions.py:505-570).

    Grid points from the first multiple of ``time_int`` >= first observation
    up to (but excluding) the last observation; each grid point interpolates
    between its bracketing observations ``v = v0 + (dt2/dt1)*(v1 - v0)``;
    on a meter reset (decrease under 'increasing' / increase under
    'decreasing') interpolate from ``reset_value`` (af:548-555).  A grid
    point coincident with an observation yields the observation's value
    (dt2=0 path).
    """
    step = int(time_int)
    if step <= 0:
        raise TsError("time_int must be a positive integer")
    rv = float(reset_value)

    def bounds(lo, hi):
        g0 = F.lit(step) * F.floor(lo / F.lit(step))
        g0 = F.when(lo % step != 0, g0 + step).otherwise(g0).cast("long")
        # last emitted pivot is strictly below the last observation (af:560-563)
        g1 = (F.lit(step) * F.floor((hi - 1) / F.lit(step))).cast("long")
        return g0, F.when(hi > lo, g1)

    u = _with_grid(df, step, bounds)
    # Ordering (epoch, _g): a point at epoch e precedes the grid row at e, so
    # the prev-frame sees coincident points (af:543: ts[i] <= pivot) and the
    # next-frame (starting 1 row after the grid row) only sees strictly later
    # points (af:543: ts[i+1] > pivot).
    w_prev = Window.partitionBy("series_id").orderBy("epoch", "_g")
    # "next observation" = first(...) over the ascending (1, unboundedFollowing)
    # frame — but that frame SHRINKS and Spark recomputes it from scratch per
    # row, O(n^2) per series.  Equivalent GROWING frame: running last() over
    # the exactly-reversed order, excluding the current row.
    w_next = Window.partitionBy("series_id").orderBy(
        F.col("epoch").desc(), F.col("_g").desc()
    )
    u = (
        u.withColumn(
            "_pe",
            F.last(F.when(F.col("_g") == 0, F.col("epoch")), ignorenulls=True).over(
                w_prev.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "_pv",
            F.last(F.when(F.col("_g") == 0, F.col("value")), ignorenulls=True).over(
                w_prev.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "_ne",
            F.last(F.when(F.col("_g") == 0, F.col("epoch")), ignorenulls=True).over(
                w_next.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn(
            "_nv",
            F.last(F.when(F.col("_g") == 0, F.col("value")), ignorenulls=True).over(
                w_next.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .filter((F.col("_g") == 1) & F.col("_pe").isNotNull() & F.col("_ne").isNotNull())
    )
    t1 = (F.col("_ne") - F.col("_pe")).cast("double")
    t2 = (F.col("epoch") - F.col("_pe")).cast("double")
    reset = (
        ((F.col("_pv") > F.col("_nv")) & F.lit(monotony == "increasing"))
        | ((F.col("_pv") < F.col("_nv")) & F.lit(monotony == "decreasing"))
    )
    lerped = F.when(
        reset, F.lit(rv) + (t2 / t1) * (F.col("_nv") - F.lit(rv))
    ).otherwise(F.col("_pv") + (t2 / t1) * (F.col("_nv") - F.col("_pv")))
    return u.select("series_id", "epoch", lerped.alias("value"))
