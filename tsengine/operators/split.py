"""Calendar-period splitting (SURVEY.md §2.5 W5/W6, §2.4 A11).

- :func:`split` — reference ``ts_split``/``split`` (tf:992-1049): assign each
  row the beginning-epoch of its calendar period (year/month/week/day/hour in
  Europe/Madrid with the minute-0 shift quirk, au:182-237).  In long format a
  "sub-series" is the (series_id, bucket) pair; the list-flattening of the
  reference is deterministic ordering by (series_id, bucket).
- :func:`split_agg` — the `inner_*(split(...))` rollup shape (usage,
  tf:1218-1223): one tumbling-window aggregate per (series, period), stamped
  at the last epoch in the period (aggregate_func, tf:425-427).
- :func:`group_by_legacy` — the older tuple-list calendar group-by
  (analysis_functions.py:114-205) with its pinned edge semantics: boundary
  points duplicated into both adjacent groups and empty periods emitting a
  (epoch, NULL) placeholder row (pinned by analysis_functions_tests.py:49-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsengine.core import TsError
from tsengine.operators.aggregates import _AGGS, _inner
from tsengine.timeutil import (
    DEFAULT_TZ,
    VALID_PERIODS,
    bucket_epoch_expr,
)

# Zones whose DST transitions occur at LOCAL MIDNIGHT (tzdata): stepping a
# calendar interval from a period boundary in wall time can then land on a
# nonexistent/ambiguous midnight, shifting group_by_legacy's folded
# placeholder epoch by the DST offset on that one day (see its docstring).
# Curated, not exhaustive — zones transitioning at 01:00+ are unaffected.
MIDNIGHT_DST_TZS = frozenset({
    "America/Santiago", "Chile/Continental", "Pacific/Easter",
    "America/Havana", "Cuba", "America/Asuncion",
    "America/Sao_Paulo", "Brazil/East", "America/Campo_Grande",
    "America/Cuiaba",
})


def split(df: DataFrame, period: str = "day", tz_name: str = DEFAULT_TZ) -> DataFrame:
    """Add a ``bucket`` column = beginning-epoch of the row's calendar period.

    Each (series_id, bucket) pair is one sub-series of the reference's
    flattened ts_list.  The frame stays keyed by that pair: an aggregate
    groups on both columns (``aggregates.inner_*(..., group_cols=...)``),
    and only a consumer that sees sub-series by list position ranks them
    first (``plans.api._rekey_split``)."""
    if period not in VALID_PERIODS:
        raise TsError(f"Invalid period given: {period}")
    return df.withColumn("bucket", bucket_epoch_expr("epoch", period, tz_name))


def split_agg(
    df: DataFrame, period: str = "day", agg: str = "sum", tz_name: str = DEFAULT_TZ
) -> DataFrame:
    """inner_<agg>(split(df, period)) — the reference's rollup template
    (usage, tf:1218-1223): per (series, calendar bucket) aggregate stamped at
    the last epoch of the bucket.  One shuffle; map-side partial agg free."""
    if agg not in _AGGS:
        raise TsError(f"unknown aggregate: {agg}")
    return _inner(split(df, period, tz_name), agg, ["series_id", "bucket"])


def group_by_legacy(
    df: DataFrame,
    period: str = "month",
    tz_name: str = DEFAULT_TZ,
) -> DataFrame:
    """Legacy calendar group-by (af:114-205), long-format rendering.

    Timezone limitation (surfaced per ADVICE r04): for day/week/month/year
    periods, interior empty-period starts are enumerated by stepping one
    calendar INTERVAL in local wall time and folding back through
    ``to_utc_timestamp``.  In a timezone whose DST transition occurs AT
    LOCAL MIDNIGHT (e.g. America/Santiago, America/Havana — midnight then
    doesn't exist or exists twice), the folded placeholder epoch can differ
    from the reference's scalar ``datetime(...).timestamp()`` walk by the
    DST offset on the transition day.  The default Europe/Madrid (and every
    zone transitioning at 02:00/03:00) is unaffected; passing a zone from
    ``MIDNIGHT_DST_TZS`` emits a ``UserWarning`` so callers outside the
    reference's tz know the edge exists.

    Output columns (series_id, bucket, epoch, value); one output "group" of
    the reference ≡ the rows sharing (series_id, bucket), ordered by epoch.
    Semantics traced from the backward pivot-walk (af:134-203) and pinned by
    analysis_functions_tests.py:49-68:

    - base assignment: a point belongs to the period given by the minute-0
      shift rule (a point exactly on a period boundary belongs to the
      PREVIOUS period) — EXCEPT the first point of a series on a boundary,
      which belongs to the period starting at it (the walk terminates before
      emitting the earlier seed, af:134);
    - border duplication (af:152-161): a non-first point exactly on a period
      boundary is also emitted at the head of the period starting at it;
    - interior crossing (af:140-150): when consecutive points (prev, cur)
      straddle a period start `pivot` (prev < pivot < cur, cur not on the
      boundary), a synthetic row (pivot, cur_value) is emitted into BOTH the
      period starting at pivot and the period immediately below it;
    - empty periods strictly between data emit one (period_start, NULL)
      placeholder row (af:190-196).

    Parity-only operator; the modern :func:`split` is the primary bucketing
    path.  Placeholder enumeration is fully executor-side for ALL periods —
    no driver loop or collect anywhere: hour gaps are a fixed-width epoch
    ``sequence()`` explode, and calendar-variable periods (day/week/month/
    year, whose Madrid period lengths vary with DST/month length) explode a
    calendar-interval ``sequence()`` over the LOCAL-WALL-clock rendering of
    each gap pair, folding boundaries back through the tz offset with
    ``to_utc_timestamp`` (see the inline comment for why this is exact).
    """
    if period not in VALID_PERIODS:
        raise TsError(f"Invalid period given: {period}")
    if period in ("day", "week", "month", "year") and tz_name in MIDNIGHT_DST_TZS:
        import warnings

        warnings.warn(
            f"group_by_legacy({period!r}) in {tz_name!r}: this zone has DST "
            "transitions at local midnight, so empty-period placeholder "
            "epochs on a transition day may differ from the scalar "
            "reference walk by the DST offset (see docstring)",
            UserWarning,
            stacklevel=2,
        )

    w = Window.partitionBy("series_id").orderBy("epoch")
    b = (
        df.withColumn("_sb", bucket_epoch_expr("epoch", period, tz_name, shift=True))
        .withColumn("_nb", bucket_epoch_expr("epoch", period, tz_name, shift=False))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_prev_e", F.lag("epoch").over(w))
    )
    is_boundary = F.col("_nb") == F.col("epoch")
    # effective period of each point (group it belongs to)
    eff = F.when((F.col("_rn") == 1) & is_boundary, F.col("_nb")).otherwise(F.col("_sb"))
    b = b.withColumn("_eff", eff).withColumn("_prev_eff", F.lag(eff).over(w))

    base = b.select("series_id", F.col("_eff").alias("bucket"), "epoch", "value")

    # pivot = the period start crossed by (prev, cur): exists when
    # prev < pivot <= cur, i.e. prev_epoch < nonshift-bucket-start-or-boundary.
    # The backward walk starts at the (shifted) period of the LAST point
    # (af:126), so a pivot above that period is never visited: a final point
    # sitting exactly on a boundary gets no upper duplicate.
    pivot = F.when(is_boundary, F.col("epoch")).otherwise(F.col("_nb"))
    b = b.withColumn("_pivot", pivot).withColumn(
        "_top", F.max("_sb").over(Window.partitionBy("series_id"))
    )
    crossed = b.filter(
        (F.col("_rn") > 1) & (F.col("_prev_e") < F.col("_pivot")) & (F.col("_pivot") <= F.col("_top"))
    )

    # upper copy: (pivot, cur_value) heads the period starting at pivot
    dup_upper = crossed.filter(~is_boundary).select(
        "series_id", F.col("_pivot").alias("bucket"), F.col("_pivot").alias("epoch"), "value"
    )
    dup_upper_border = crossed.filter(is_boundary).select(
        "series_id", F.col("_pivot").alias("bucket"), F.col("epoch"), "value"
    )

    # lower seed (interior crossings only): (pivot, cur_value) ends the
    # period immediately below pivot (= shift-bucket of the pivot epoch)
    seed_lower = crossed.filter(~is_boundary).select(
        "series_id",
        bucket_epoch_expr("_pivot", period, tz_name, shift=True).alias("bucket"),
        F.col("_pivot").alias("epoch"),
        "value",
    )

    out = base.unionByName(dup_upper).unionByName(dup_upper_border).unionByName(seed_lower)

    # placeholders for empty periods strictly between a crossing's lower
    # side (prev point's period, or the seed's period) and upper side
    gaps_df = crossed.select(
        "series_id",
        F.col("_prev_eff").alias("_lo_p"),
        bucket_epoch_expr("_pivot", period, tz_name, shift=True).alias("_hi_p"),
    ).filter(F.col("_hi_p") > F.col("_lo_p")).distinct()

    if period == "hour":
        # fixed-width path, fully distributed: hour periods are always 3600 s
        # apart in epoch terms (tz offsets move in whole hours, so Madrid hour
        # boundaries are UTC hour boundaries) — the placeholder epochs are
        # exactly sequence(lo+3600, hi-3600, 3600), no scalar calendar needed
        step = 3600
        ph = (
            gaps_df.filter(F.col("_hi_p") >= F.col("_lo_p") + 2 * step)
            .select(
                "series_id",
                F.explode(
                    F.sequence(
                        F.col("_lo_p") + step, F.col("_hi_p") - step, F.lit(step)
                    )
                ).alias("bucket"),
            )
            .select(
                "series_id",
                "bucket",
                F.col("bucket").alias("epoch"),
                F.lit(None).cast("double").alias("value"),
            )
        )
        return out.unionByName(ph)

    # calendar-variable periods (day/week/month/year): enumerate interior
    # period starts executor-side in LOCAL WALL time.  _lo_p/_hi_p are both
    # period-START epochs (bucket_epoch_expr output), and from a boundary,
    # stepping one calendar interval stays on boundaries (midnight / Monday
    # midnight / first-of-month / Jan-1) regardless of DST or month length:
    # from_utc_timestamp yields the wall clock as a bare timestamp, interval
    # arithmetic on it IS wall arithmetic, and to_utc_timestamp folds each
    # boundary back through the tz offset exactly like the scalar
    # datetime(...).timestamp() walk this replaces (af:190-196).  The
    # af:197-200 DST guard can only trigger for sub-day periods, which take
    # the fixed-width path above; midnight-adjacent DST transitions (not a
    # thing in the reference's Madrid tz) are the one unreplicated edge.
    step_iv = {"day": "1 DAY", "week": "7 DAY", "month": "1 MONTH", "year": "1 YEAR"}[period]
    ph = (
        gaps_df.select(
            "series_id",
            F.from_utc_timestamp(F.timestamp_seconds("_lo_p"), tz_name).alias("_lo_w"),
            F.from_utc_timestamp(F.timestamp_seconds("_hi_p"), tz_name).alias("_hi_w"),
        )
        # >=1 interior start iff lo + I < hi; gap pairs are whole periods
        # apart, so that also guarantees lo + I <= hi - I (sequence bounds)
        .filter(F.expr(f"_lo_w + INTERVAL {step_iv} < _hi_w"))
        .select(
            "series_id",
            F.explode(
                F.expr(
                    f"sequence(_lo_w + INTERVAL {step_iv}, _hi_w - INTERVAL {step_iv},"
                    f" INTERVAL {step_iv})"
                )
            ).alias("_b_w"),
        )
        .select(
            "series_id",
            F.to_utc_timestamp("_b_w", tz_name).cast("long").alias("bucket"),
        )
        .select(
            "series_id",
            "bucket",
            F.col("bucket").alias("epoch"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    return out.unionByName(ph)
