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

from pyspark.sql import DataFrame

from tsengine.core import TsError, sql_double


def _grid_bounds(step: int, lo: str, hi: str) -> tuple[str, str]:
    """Exact grid rounding (tf:284-291): e_from ceils to the next multiple,
    e_to floors then +step; python-range end-exclusive means the last grid
    point is ``floor(e_to/s)*s + s`` minus one step when on-grid... pinned:
    grid = [ceil(lo/s)*s, g1) step s where g1 = (floor(hi/s)+1)*s (+s if
    hi not on-grid). Inclusive last point = g1 - s.

    ``lo``/``hi`` and the two bounds returned are SQL expressions."""
    s = int(step)
    g0 = f"{s} * FLOOR(({lo}) / {s})"
    g1 = f"{s} * (FLOOR(({hi}) / {s}) + 1)"
    return (
        f"CAST(CASE WHEN ({lo}) % {s} != 0 THEN {g0} + {s} ELSE {g0} END AS BIGINT)",
        f"CAST(CASE WHEN ({hi}) % {s} != 0 THEN {g1} + {s} ELSE {g1} END - {s} AS BIGINT)",
    )


def _with_grid(df: DataFrame, step: int, bounds) -> DataFrame:
    """The points of ``df`` tagged ``_g=0`` plus one null-valued ``_g=1``
    row per grid epoch, in one stream hash-partitioned on ``series_id``.

    ``bounds(lo, hi)`` maps the SQL expressions of a series' first and last
    observation epochs to the SQL expressions of its first and last grid
    epoch (no grid if the last is below the first or null).  The bounds
    come from a window, and the grid rows are exploded from each series'
    first row, so the input is read and shuffled once and every later
    window reuses its partitioning.
    """
    x = df.selectExpr(
        "series_id", "epoch", "CAST(value AS DOUBLE) AS value",
        "row_number() OVER (PARTITION BY series_id ORDER BY epoch) AS _rn",
        "max(epoch) OVER (PARTITION BY series_id ORDER BY epoch"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS _hi",
    )
    # on the first row (ascending epoch) its own epoch is the series minimum
    g0, g1 = bounds("epoch", "_hi")
    epochs = (f"CASE WHEN {g1} >= {g0} THEN sequence({g0}, {g1}, CAST({int(step)} AS BIGINT))"
              " ELSE CAST(array() AS ARRAY<BIGINT>) END")
    pt = "array(struct(epoch, value, 0 AS _g))"
    gs = f"transform({epochs}, t -> struct(t AS epoch, CAST(NULL AS DOUBLE) AS value, 1 AS _g))"
    return x.selectExpr(
        "series_id", f"inline(CASE WHEN _rn = 1 THEN concat({pt}, {gs}) ELSE {pt} END)"
    )


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
        str(int(e_from)) if e_from is not None else lo,
        str(int(e_to)) if e_to is not None else hi,
    ))

    if fill_value is not None:
        # exact-match reindex: a point survives iff a grid row shares its
        # epoch (duplicates kept, as a left join keeps them); a grid row
        # survives iff no point does
        return (
            u.selectExpr(
                "series_id", "epoch", "value", "_g",
                "max(_g) OVER (PARTITION BY series_id, epoch) AS _on",
                "min(_g) OVER (PARTITION BY series_id, epoch) AS _alone",
            )
            .where("CASE WHEN _g = 0 THEN _on = 1 ELSE _alone = 1 END")
            .selectExpr("series_id", "epoch",
                        f"coalesce(value, {sql_double(fill_value)}) AS value")
        )

    # LOCF then bfill: two frames over the grid stream's partitioning.
    # bfill is a running last() over DESC order: (current, unboundedFollowing)
    # ascending == (unboundedPreceding, current) descending.  The descending
    # frame GROWS row-by-row (O(n) incremental in WindowExec); the ascending
    # first()-over-following frame SHRINKS, which Spark recomputes from
    # scratch per row — O(n^2) per series.
    return (
        u.selectExpr(
            "*",
            "last(value, true) OVER (PARTITION BY series_id ORDER BY epoch, _g"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _pad",
        )
        .where("_g = 1")
        .selectExpr(
            "series_id", "epoch",
            "last(_pad, true) OVER (PARTITION BY series_id ORDER BY epoch DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value",
        )
    )


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
    rv = sql_double(reset_value)

    def bounds(lo, hi):
        g0 = f"{step} * FLOOR({lo} / {step})"
        g0 = f"CAST(CASE WHEN {lo} % {step} != 0 THEN {g0} + {step} ELSE {g0} END AS BIGINT)"
        # last emitted pivot is strictly below the last observation (af:560-563)
        return g0, f"CASE WHEN {hi} > {lo} THEN CAST({step} * FLOOR(({hi} - 1) / {step}) AS BIGINT) END"

    u = _with_grid(df, step, bounds)
    # Ordering (epoch, _g): a point at epoch e precedes the grid row at e, so
    # the prev-frame sees coincident points (af:543: ts[i] <= pivot) and the
    # next-frame (starting 1 row after the grid row) only sees strictly later
    # points (af:543: ts[i+1] > pivot).
    prev = ("OVER (PARTITION BY series_id ORDER BY epoch, _g"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    # "next observation" = first(...) over the ascending (1, unboundedFollowing)
    # frame — but that frame SHRINKS and Spark recomputes it from scratch per
    # row, O(n^2) per series.  Equivalent GROWING frame: running last() over
    # the exactly-reversed order, excluding the current row.
    nxt = ("OVER (PARTITION BY series_id ORDER BY epoch DESC, _g DESC"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
    u = u.selectExpr(
        "*",
        f"last(CASE WHEN _g = 0 THEN epoch END, true) {prev} AS _pe",
        f"last(CASE WHEN _g = 0 THEN value END, true) {prev} AS _pv",
        f"last(CASE WHEN _g = 0 THEN epoch END, true) {nxt} AS _ne",
        f"last(CASE WHEN _g = 0 THEN value END, true) {nxt} AS _nv",
    ).where("_g = 1 AND _pe IS NOT NULL AND _ne IS NOT NULL")
    frac = "(CAST(epoch - _pe AS DOUBLE) / CAST(_ne - _pe AS DOUBLE))"
    lerped = f"_pv + {frac} * (_nv - _pv)"
    # a meter reset (a decrease under 'increasing', an increase under
    # 'decreasing') interpolates from reset_value instead
    reset = {"increasing": "_pv > _nv", "decreasing": "_pv < _nv"}.get(monotony)
    if reset is not None:
        lerped = f"CASE WHEN {reset} THEN {rv} + {frac} * (_nv - {rv}) ELSE {lerped} END"
    return u.selectExpr("series_id", "epoch", f"{lerped} AS value")
