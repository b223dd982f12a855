"""Driver-contract query registry (SURVEY.md §7.5).

One entry per implemented operator from SURVEY.md §2, expressed over the
driver's parquet tables (events as the series source: user_id -> series_id,
unix_timestamp(ts) -> epoch, value -> value; FIXTURES.md §2), each with an
equivalent DuckDB ANSI-SQL oracle.

Conventions that keep the driver's value-hash comparison stable:
- every float output column is round(x, 6) on BOTH sides;
- epochs/buckets are BIGINT on both sides (Spark cast long == DuckDB
  floor(epoch(ts))::BIGINT — both truncate sub-second);
- aggregate/computed columns aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tsengine.core import events_as_series
from tsengine.operators import aggregates as agg
from tsengine.operators import arithmetic as arith
from tsengine.operators import increments as incr
from tsengine.operators import resample
from tsengine.operators import split as spl

# ------------------------------------------------------------------ SQL helpers

PTS = (
    "SELECT user_id AS series_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value "
    "FROM events"
)

# cumulative meter per series (monotone non-decreasing: value > 0).
# Same-second events are pre-summed per (series, epoch) BEFORE the running
# sum: second-truncation can land two raw events on one epoch, and a running
# sum over tied epochs is order-dependent (Spark and DuckDB break the tie
# differently, which made distribute_linear's bracket value at that epoch
# engine-dependent — 4 rows at sf0.1).  Unique epochs make every downstream
# bracket/LOCF lookup deterministic.
CUM = (
    "SELECT series_id, epoch, sum(value) OVER "
    "(PARTITION BY series_id ORDER BY epoch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    " AS value FROM (SELECT series_id, epoch, sum(value) AS value FROM ("
    + PTS
    + ") GROUP BY 1, 2)"
)


def _grid_cte(src: str, step: int) -> str:
    """Grid + LOCF + bfill CTE chain mirroring resample.distribute (tf:255-302)."""
    return f"""
pts AS ({src}),
b AS (SELECT series_id, min(epoch) AS lo, max(epoch) AS hi FROM pts GROUP BY 1),
grid AS (SELECT series_id,
    unnest(generate_series(
        CASE WHEN lo % {step} = 0 THEN lo ELSE {step}*(lo//{step}) + {step} END,
        (CASE WHEN hi % {step} = 0 THEN {step}*(hi//{step}) + {step}
              ELSE {step}*(hi//{step}) + 2*{step} END) - {step},
        {step})) AS epoch,
    CAST(NULL AS DOUBLE) AS value, 1 AS g FROM b),
u AS (SELECT series_id, epoch, value, 0 AS g FROM pts UNION ALL SELECT * FROM grid),
padded AS (SELECT series_id, epoch, g,
    last_value(value IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY epoch, g
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pad FROM u),
dist AS (SELECT series_id, epoch,
    first_value(pad IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY epoch
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value
    FROM padded WHERE g = 1)
"""


def _api_grid_cte(lo: int, hi: int, anchor: bool = False) -> str:
    """API_SERIES's points in the closed window [lo, hi], LOCF+bfill onto the
    hourly grid over exactly [lo, hi] (both on-grid: tf:284-291 rounding
    degenerates to the closed range).  ``anchor`` adds the single last point
    before the window, which pads the leading grid points (E2)."""
    if anchor:
        pts = f"""base AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value FROM events
              WHERE user_id = {API_SERIES}),
win AS (SELECT * FROM base WHERE epoch >= {lo} AND epoch <= {hi}),
pre AS (SELECT * FROM base WHERE epoch < {lo} ORDER BY epoch DESC LIMIT 1),
pts AS (SELECT * FROM win UNION ALL SELECT * FROM pre)"""
    else:
        pts = f"""pts AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value FROM events
             WHERE user_id = {API_SERIES} AND floor(epoch(ts)) >= {lo}
               AND floor(epoch(ts)) <= {hi})"""
    return f"""{pts},
grid AS (SELECT unnest(generate_series({lo}, {hi}, 3600)) AS epoch,
                CAST(NULL AS DOUBLE) AS value, 1 AS g),
u AS (SELECT epoch, value, 0 AS g FROM pts UNION ALL SELECT * FROM grid),
padded AS (SELECT epoch, g,
    last_value(value IGNORE NULLS) OVER (ORDER BY epoch, g
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pad FROM u),
dist AS (SELECT epoch,
    first_value(pad IGNORE NULLS) OVER (ORDER BY epoch
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value
    FROM padded WHERE g = 1)"""


def _bucket_sql(epoch_expr: str, period: str, tz: str = "Europe/Madrid") -> str:
    """Calendar bucket with the minute-0 shift quirk (au:182-237) in DuckDB."""
    em = f"(60*(({epoch_expr})//60))"
    if period == "hour":
        return (
            f"CASE WHEN {em} % 3600 = 0 THEN 3600*({em}//3600) - 3600 "
            f"ELSE 3600*({em}//3600) END"
        )
    shifted = f"(CASE WHEN {em} % 3600 = 0 THEN {em} - 60 ELSE {em} END)"
    return (
        f"CAST(floor(epoch(timezone('{tz}', date_trunc('{period}', "
        f"timezone('{tz}', to_timestamp({shifted})))))) AS BIGINT)"
    )


def _cum_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-sum same-second events per (series, epoch) before the running sum —
    # see the CUM SQL comment: tied epochs make a running sum order-dependent.
    ev = (
        events_as_series(spark, sf_dir)
        .groupBy("series_id", "epoch")
        .agg(F.sum("value").alias("value"))
    )
    w = Window.partitionBy("series_id").orderBy("epoch").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.withColumn("value", F.sum("value").over(w))


def _r6(df: DataFrame, col: str = "value") -> DataFrame:
    return df.withColumn(col, F.round(F.col(col), 6))


# ------------------------------------------------------------------ queries

def q_inner_sum(spark, sf_dir):
    return _r6(agg.inner_sum(events_as_series(spark, sf_dir)))


def q_inner_max(spark, sf_dir):
    return _r6(agg.inner_max(events_as_series(spark, sf_dir)))


def q_inner_min(spark, sf_dir):
    return _r6(agg.inner_min(events_as_series(spark, sf_dir)))


def q_inner_mean(spark, sf_dir):
    return _r6(agg.inner_mean(events_as_series(spark, sf_dir)))


def q_inner_std(spark, sf_dir):
    return _r6(agg.inner_std(events_as_series(spark, sf_dir)))


def q_last_3(spark, sf_dir):
    return _r6(agg.last(events_as_series(spark, sf_dir), number=3))


def q_increments(spark, sf_dir):
    out = incr.increments(
        events_as_series(spark, sf_dir), monotony="non_monotonous", validate=False
    )
    return _r6(out)


def q_increments_reset(spark, sf_dir):
    df = events_as_series(spark, sf_dir)
    out = incr.increments(df, monotony="increasing", validate=False)
    return _r6(out)


def q_distribute_locf(spark, sf_dir):
    return _r6(resample.distribute(events_as_series(spark, sf_dir), seconds=3600))


def q_distribute_fill(spark, sf_dir):
    return _r6(
        resample.distribute(events_as_series(spark, sf_dir), seconds=3600, fill_value=-1.0)
    )


def q_distribute_linear(spark, sf_dir):
    return _r6(
        resample.distribute_linear(
            _cum_series(spark, sf_dir), time_int=3600, monotony="increasing"
        )
    )


def q_split_hour_sum(spark, sf_dir):
    return _r6(spl.split_agg(events_as_series(spark, sf_dir), period="hour", agg="sum"))


def q_split_day_mean(spark, sf_dir):
    return _r6(spl.split_agg(events_as_series(spark, sf_dir), period="day", agg="mean"))


def q_usage_day(spark, sf_dir):
    """Flagship (E3/usage, tf:1218-1223): cumulative meter -> distribute(1h)
    -> increments -> split(day, Europe/Madrid) -> inner_sum."""
    cum = _cum_series(spark, sf_dir)
    d = resample.distribute(cum, seconds=3600)
    inc = incr.increments(d, monotony="increasing", validate=False)
    return _r6(spl.split_agg(inc, period="day", agg="sum"))


def q_usage_week(spark, sf_dir):
    cum = _cum_series(spark, sf_dir)
    d = resample.distribute(cum, seconds=3600)
    inc = incr.increments(d, monotony="increasing", validate=False)
    return _r6(spl.split_agg(inc, period="week", agg="sum"))


def q_meter_total(spark, sf_dir):
    return _r6(incr.meter_increments_total(_cum_series(spark, sf_dir)))


def _event_types(spark, sf_dir):
    """The events table as a categorical series: value = event_type."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("series_id"),
        F.col("ts").cast("timestamp").cast("long").alias("epoch"),
        F.col("event_type").alias("value"),
    )


def q_count_state_change(spark, sf_dir):
    return agg.count_state_change(_event_types(spark, sf_dir), "click", value_col="value")


def q_clean_duplicated(spark, sf_dir):
    return arith.clean_duplicated(_event_types(spark, sf_dir))


def q_delete_critical(spark, sf_dir):
    return arith.delete_critical_values(_event_types(spark, sf_dir), "error")


def q_histogram(spark, sf_dir):
    out = agg.histogram(
        events_as_series(spark, sf_dir), lower_limit=0.0, upper_limit=500.0, n_ints=50
    )
    return out.withColumn("lo", F.round("lo", 6)).withColumn("hi", F.round("hi", 6))


def q_scalar_chain(spark, sf_dir):
    # ((value * 2 - 10) ** 2.5→2) / 4 ; exercises C1-C6 incl. int truncation
    ev = events_as_series(spark, sf_dir)
    out = arith.scalar_division(
        arith.scalar_power(
            arith.scalar_sub(arith.scalar_product(ev, 2.0), 10.0), 2.5
        ),
        4.0,
    )
    return _r6(out)


def q_pair_product(spark, sf_dir):
    # hourly sum × hourly count per user, joined on (series, bucket end epoch)
    ev = events_as_series(spark, sf_dir)
    hs = spl.split_agg(ev, period="hour", agg="sum").select(
        "series_id", F.col("bucket").alias("epoch"), "value"
    )
    hc = (
        spl.split(ev, period="hour")
        .groupBy("series_id", "bucket")
        .agg(F.count("*").cast("double").alias("value"))
        .select("series_id", F.col("bucket").alias("epoch"), "value")
    )
    return _r6(arith.product(hs, hc))


def q_pair_addition_scalar_broadcast(spark, sf_dir):
    # per-series total (single row) + the series itself: broadcast case
    ev = events_as_series(spark, sf_dir)
    tot = agg.inner_sum(ev)
    return _r6(arith.addition(ev, tot))


def q_rollup_1h(spark, sf_dir):
    # tier rollup shape on events: cnt/vmin/vmax/vsum/vmean per (series, hour)
    ev = events_as_series(spark, sf_dir)
    b = ev.withColumn("bucket", (F.lit(3600) * F.floor(F.col("epoch") / 3600)).cast("long"))
    return (
        b.groupBy("series_id", "bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.min("value"), 6).alias("vmin"),
            F.round(F.max("value"), 6).alias("vmax"),
            F.round(F.sum("value"), 6).alias("vsum"),
            F.round(F.avg("value"), 6).alias("vmean"),
        )
    )


# ---------------------------------------------------------- API/parser surface
# fixed "wall clock" for the API queries: 2024-01-31 00:00 UTC, just past the
# last event epoch in every sf tier (data spans 2024-01-01 .. 2024-01-30)
API_NOW = 1706659200
API_SERIES = 41
CR_FROM, CR_TO = 1705000000, 1706000000


def _engine(spark, sf_dir):
    from tsengine.plans.api import Engine

    return Engine(spark, events_as_series(spark, sf_dir))


def q_get_variable(spark, sf_dir):
    """E1 (tf:109-202): range filter -> hourly LOCF distribute -> last(n),
    normalized to list position 0."""
    out = _engine(spark, sf_dir).get_variable(
        API_SERIES, time_int=3600, now=API_NOW, range="last_week"
    )
    return _r6(out)


def q_get_increments(spark, sf_dir):
    """E2 (tf:1112-1215): closed window + one pre-window anchor point ->
    hourly distribute -> increments."""
    out = _engine(spark, sf_dir).get_increments(
        API_SERIES, time_int=3600, now=API_NOW, range="last_day"
    )
    return _r6(out)


def q_engine_usage_week(spark, sf_dir):
    """E3 end-to-end through the public Engine API (tf:1218-1223): usage =
    get_increments (closed week window + pre-window anchor -> hourly LOCF
    grid -> increments) -> split(week, Madrid minute-0 quirk) -> rekey ->
    merged inner_sum.  Complements q_usage_* (same math via split_agg) by
    exercising the composite-entry-point registry path the reference's
    users actually call (VERDICT r2 #8)."""
    out = _engine(spark, sf_dir).usage(
        API_SERIES, time_int=3600, now=API_NOW, range="last_week", group_by="week"
    )
    return _r6(out)


def q_compound_formula(spark, sf_dir):
    """U1, the flagship compound shape (cp:86-203; parser_tests.py:541-551):
    one formula string -> lazy plan through the registry (get_variable ->
    split with the minute-0 day-bucket quirk -> merged inner_mean)."""
    eng = _engine(spark, sf_dir)
    out = eng.query(
        f"inner_mean(split(get_variable({API_SERIES}; time_int = 3600; "
        f"now = {API_NOW}; range = last_week); period = day))"
    )
    return _r6(out)


def q_column_range(spark, sf_dir):
    """F1+F2 (au:31-57, au:60-160): 'data.'-prefix param strip -> open-interval
    from/to compile -> pushed-down epoch predicate over every series."""
    from tsengine import timeutil

    rng = timeutil.get_column_range(
        {"data.from": CR_FROM, "data.to": CR_TO, "unrelated": "ignored"},
        now=API_NOW,
        int_type="open",
    )
    return _r6(events_as_series(spark, sf_dir).filter(rng.predicate()))


def q_truncate_round(spark, sf_dir):
    """C9+C10 (intent of the reference's dead af:376-441, SURVEY §7.4.17):
    floor value to 2.5-multiples, then round to 10-multiples, chained."""
    ev = events_as_series(spark, sf_dir)
    return _r6(arith.round_values(arith.truncate_values(ev, 2.5), 10.0))


def q_gaussian_smooth(spark, sf_dir):
    """A10 (af:669-686): histogram -> gaussian-kernel weighted moving
    average.  Post-aggregation data is n_ints rows, so the smooth is a
    driver-side numpy pass exactly as SURVEY prescribes; the result is
    re-wrapped as a DataFrame for the driver compare."""
    h = agg.histogram(
        events_as_series(spark, sf_dir), lower_limit=0.0, upper_limit=500.0, n_ints=50
    )
    rows = [(r["lo"], r["hi"], r["cnt"]) for r in h.orderBy("bucket").collect()]
    sm = agg.gaussian_smooth(rows, p_width=3)
    out = spark.createDataFrame(
        [(float(lo), float(hi), float(v)) for lo, hi, v in sm],
        "lo double, hi double, smoothed double",
    )
    return out.select(
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        F.round("smoothed", 6).alias("smoothed"),
    )


def q_union_merge(spark, sf_dir):
    """§2.7 (tf:407-447 merge_agg_func): union two disjoint-epoch hourly
    series into one merged series — the cross-series epoch-collision assert
    runs first, as in the reference's pre-merge check — then inner_sum over
    the merged frame."""
    ev = events_as_series(spark, sf_dir)
    hs = spl.split_agg(ev, period="hour", agg="sum")
    a = hs.filter((F.col("series_id") == 1) & (F.col("bucket") % 7200 == 0))
    b = hs.filter((F.col("series_id") == 2) & (F.col("bucket") % 7200 != 0))
    merged = a.unionByName(b).select(
        F.lit(0).cast("long").alias("series_id"),
        F.col("bucket").alias("epoch"),
        "value",
    )
    agg.check_merge_collisions(merged)
    return _r6(agg.inner_sum(merged))


def q_group_by_legacy(spark, sf_dir):
    """W6 (af:114-205): boundary-duplicating legacy calendar group-by with
    interior-crossing seeds and empty-period placeholders, hour periods.
    Placeholder NULL values are coalesced to -999999.0 on both sides so the
    value hash never mixes None/NaN encodings."""
    out = spl.group_by_legacy(events_as_series(spark, sf_dir), period="hour")
    return out.select(
        "series_id", "bucket", "epoch",
        F.coalesce(F.round("value", 6), F.lit(-999999.0)).alias("value"),
    )


# ------------------------------------------------------------------ oracle SQL

ORACLE: dict[str, str] = {}

# E1: the week window on the grid, series re-keyed to 0
_GV_LO, _GV_HI = API_NOW - 604800, API_NOW
ORACLE["q_get_variable"] = f"""
WITH {_api_grid_cte(_GV_LO, _GV_HI)}
SELECT CAST(0 AS BIGINT) AS series_id, epoch, round(value, 6) AS value
FROM dist
-- empty-series edge (reference semantics): no source points in range ->
-- no output rows, never a NULL-valued grid (engine matches; pinned by the
-- sf0.001 sweep where this series has zero events)
WHERE EXISTS (SELECT 1 FROM pts)
"""

# E2: the anchored day window on the grid, then lag-diff
_GI_LO, _GI_HI = API_NOW - 86400, API_NOW
ORACLE["q_get_increments"] = f"""
WITH {_api_grid_cte(_GI_LO, _GI_HI, anchor=True)},
inc AS (SELECT epoch, value,
    lag(value) OVER (ORDER BY epoch) AS prev FROM dist)
SELECT CAST(0 AS BIGINT) AS series_id, epoch,
       round(CASE WHEN prev > value THEN value - 0.0 ELSE value - prev END, 6) AS value
FROM inc WHERE prev IS NOT NULL
"""

# E3 via the Engine: the E2 pipeline over the closed week window, grouped
# into Madrid calendar weeks, merged sum (series re-keyed to 0)
ORACLE["q_engine_usage_week"] = f"""
WITH {_api_grid_cte(_GV_LO, _GV_HI, anchor=True)},
inc AS (SELECT epoch, value,
    lag(value) OVER (ORDER BY epoch) AS prev FROM dist),
inc2 AS (SELECT epoch,
    CASE WHEN prev > value THEN value - 0.0 ELSE value - prev END AS value
    FROM inc WHERE prev IS NOT NULL)
SELECT CAST(0 AS BIGINT) AS series_id, max(epoch) AS epoch,
       round(sum(value), 6) AS value
FROM inc2 GROUP BY {_bucket_sql('epoch', 'week')}
"""

# U1: the E1 grid grouped into calendar days (minute-0 shift: every on-hour
# grid epoch shifts back 60 s before the Madrid date_trunc), merged mean
ORACLE["q_compound_formula"] = f"""
WITH {_api_grid_cte(_GV_LO, _GV_HI)}
SELECT CAST(0 AS BIGINT) AS series_id, max(epoch) AS epoch,
       round(avg(value), 6) AS value
FROM dist
WHERE EXISTS (SELECT 1 FROM pts)  -- empty-series edge, as in q_get_variable
GROUP BY {_bucket_sql('epoch', 'day')}
"""

# F1+F2: open interval -> (from, to) exclusive == [from+1, to-1] on integers
ORACLE["q_column_range"] = f"""
SELECT user_id AS series_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
       round(value, 6) AS value
FROM events
WHERE floor(epoch(ts)) >= {CR_FROM} + 1 AND floor(epoch(ts)) <= {CR_TO} - 1
"""

# W6: hour periods are pure integer arithmetic (au:224-227) — base rows with
# the shifted-bucket rule (+ first-point-on-boundary exception), boundary
# duplicates, interior-crossing upper/lower copies, and empty-period
# placeholders from DISTINCT (prev_eff, pivot-3600) gap pairs
ORACLE["q_group_by_legacy"] = f"""
WITH pts AS (
  SELECT user_id AS series_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value,
         row_number() OVER w AS rn,
         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS prev_e
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts)))),
ann AS (
  SELECT *,
    60*(epoch//60) AS em,
    3600*((60*(epoch//60))//3600) AS nb,
    CASE WHEN (60*(epoch//60)) % 3600 = 0
         THEN 3600*((60*(epoch//60))//3600) - 3600
         ELSE 3600*((60*(epoch//60))//3600) END AS sb,
    (epoch % 3600 = 0) AS boundary
  FROM pts),
eff AS (
  SELECT *,
    CASE WHEN rn = 1 AND boundary THEN nb ELSE sb END AS eff,
    CASE WHEN boundary THEN epoch ELSE nb END AS pvt,
    max(sb) OVER (PARTITION BY series_id) AS top
  FROM ann),
eff2 AS (
  SELECT *, lag(eff) OVER (PARTITION BY series_id ORDER BY epoch) AS prev_eff
  FROM eff),
crossed AS (
  SELECT * FROM eff2 WHERE rn > 1 AND prev_e < pvt AND pvt <= top),
base AS (SELECT series_id, eff AS bucket, epoch, value FROM eff2),
dup_upper AS (SELECT series_id, pvt AS bucket, pvt AS epoch, value
              FROM crossed WHERE NOT boundary),
dup_border AS (SELECT series_id, pvt AS bucket, epoch, value
               FROM crossed WHERE boundary),
seed_lower AS (SELECT series_id, pvt - 3600 AS bucket, pvt AS epoch, value
               FROM crossed WHERE NOT boundary),
gaps AS (SELECT DISTINCT series_id, prev_eff AS lo_p, pvt - 3600 AS hi_p
         FROM crossed WHERE pvt - 3600 > prev_eff),
placeholders AS (
  SELECT series_id,
         unnest(generate_series(lo_p + 3600, hi_p - 3600, 3600)) AS bucket,
         CAST(NULL AS DOUBLE) AS value
  FROM gaps),
allrows AS (
  SELECT series_id, bucket, epoch, value FROM base
  UNION ALL SELECT series_id, bucket, epoch, value FROM dup_upper
  UNION ALL SELECT series_id, bucket, epoch, value FROM dup_border
  UNION ALL SELECT series_id, bucket, epoch, value FROM seed_lower
  UNION ALL SELECT series_id, bucket, bucket AS epoch, value FROM placeholders)
SELECT series_id, bucket, epoch,
       coalesce(round(value, 6), -999999.0) AS value
FROM allrows
"""

for _name, _fn in [
    ("q_inner_sum", "sum"),
    ("q_inner_max", "max"),
    ("q_inner_min", "min"),
    ("q_inner_mean", "avg"),
    ("q_inner_std", "stddev_pop"),
]:
    ORACLE[_name] = (
        f"SELECT series_id, max(epoch) AS epoch, round({_fn}(value), 6) AS value "
        f"FROM ({PTS}) GROUP BY series_id"
    )

ORACLE["q_truncate_round"] = f"""
SELECT series_id, epoch,
       round(10.0 * round((2.5 * floor(value / 2.5)) / 10.0), 6) AS value
FROM ({PTS})
"""

ORACLE["q_gaussian_smooth"] = """
WITH buckets AS (SELECT unnest(generate_series(0, 49)) AS bucket),
counts AS (
  SELECT CAST(floor((value - 0.0) / 10.0) AS INT) AS bucket, count(*) AS c
  FROM events WHERE value >= 0.0 AND value < 500.0 GROUP BY 1),
h AS (
  SELECT b.bucket AS bucket,
         0.0 + b.bucket * 10.0 AS lo,
         500.0 - (50 - b.bucket - 1) * 10.0 AS hi,
         coalesce(c.c, 0) AS cnt
  FROM buckets b LEFT JOIN counts c ON b.bucket = c.bucket),
x AS (SELECT bucket, lo, hi, (lo + hi) / 2.0 AS mid, cnt FROM h)
SELECT round(a.lo, 6) AS lo, round(a.hi, 6) AS hi,
       round(sum(b.cnt * exp(-((b.mid - a.mid) * (b.mid - a.mid)) / 1800.0))
             / sum(exp(-((b.mid - a.mid) * (b.mid - a.mid)) / 1800.0)), 6)
         AS smoothed
FROM x a CROSS JOIN x b
GROUP BY a.bucket, a.lo, a.hi
"""

ORACLE["q_union_merge"] = f"""
WITH pts AS ({PTS}),
hs AS (SELECT series_id, {_bucket_sql('epoch', 'hour')} AS bucket,
              sum(value) AS value
       FROM pts GROUP BY 1, 2),
m AS (SELECT bucket AS epoch, value FROM hs
      WHERE (series_id = 1 AND bucket % 7200 = 0)
         OR (series_id = 2 AND bucket % 7200 <> 0))
SELECT CAST(0 AS BIGINT) AS series_id, max(epoch) AS epoch,
       round(sum(value), 6) AS value
FROM m
"""

ORACLE["q_last_3"] = f"""
SELECT series_id, epoch, round(value, 6) AS value FROM (
  SELECT series_id, epoch, value,
         row_number() OVER (PARTITION BY series_id ORDER BY epoch DESC) AS rn
  FROM ({PTS})) WHERE rn <= 3
"""

ORACLE["q_increments"] = f"""
SELECT series_id, epoch, round(value - prev, 6) AS value FROM (
  SELECT series_id, epoch, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY epoch) AS prev
  FROM ({PTS})) WHERE prev IS NOT NULL
"""

ORACLE["q_increments_reset"] = f"""
SELECT series_id, epoch,
       round(CASE WHEN prev > value THEN value - 0.0 ELSE value - prev END, 6) AS value
FROM (
  SELECT series_id, epoch, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY epoch) AS prev
  FROM ({PTS})) WHERE prev IS NOT NULL
"""

ORACLE["q_distribute_locf"] = (
    "WITH " + _grid_cte(PTS, 3600) + "SELECT series_id, epoch, round(value, 6) AS value FROM dist"
)

ORACLE["q_distribute_fill"] = f"""
WITH pts AS ({PTS}),
b AS (SELECT series_id, min(epoch) AS lo, max(epoch) AS hi FROM pts GROUP BY 1),
grid AS (SELECT series_id,
    unnest(generate_series(
        CASE WHEN lo % 3600 = 0 THEN lo ELSE 3600*(lo//3600) + 3600 END,
        (CASE WHEN hi % 3600 = 0 THEN 3600*(hi//3600) + 3600
              ELSE 3600*(hi//3600) + 7200 END) - 3600,
        3600)) AS epoch FROM b)
SELECT g.series_id, g.epoch, round(coalesce(p.value, -1.0), 6) AS value
FROM grid g LEFT JOIN pts p ON g.series_id = p.series_id AND g.epoch = p.epoch
"""

ORACLE["q_distribute_linear"] = f"""
WITH pts AS ({CUM}),
b AS (SELECT series_id, min(epoch) AS lo, max(epoch) AS hi FROM pts GROUP BY 1),
grid AS (SELECT series_id,
    unnest(generate_series(
        CASE WHEN lo % 3600 = 0 THEN lo ELSE 3600*(lo//3600) + 3600 END,
        3600*((hi - 1)//3600),
        3600)) AS epoch,
    CAST(NULL AS DOUBLE) AS value, 1 AS g FROM b WHERE hi > lo),
u AS (SELECT series_id, epoch, value, 0 AS g FROM pts UNION ALL SELECT * FROM grid),
br AS (SELECT series_id, epoch, g,
    last_value(CASE WHEN g = 0 THEN epoch END IGNORE NULLS) OVER wp AS pe,
    last_value(CASE WHEN g = 0 THEN value END IGNORE NULLS) OVER wp AS pv,
    first_value(CASE WHEN g = 0 THEN epoch END IGNORE NULLS) OVER wn AS ne,
    first_value(CASE WHEN g = 0 THEN value END IGNORE NULLS) OVER wn AS nv
    FROM u WINDOW
    wp AS (PARTITION BY series_id ORDER BY epoch, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wn AS (PARTITION BY series_id ORDER BY epoch, g ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT series_id, epoch,
    round(CASE WHEN pv > nv THEN 0.0 + ((epoch - pe)*1.0/(ne - pe))*(nv - 0.0)
               ELSE pv + ((epoch - pe)*1.0/(ne - pe))*(nv - pv) END, 6) AS value
FROM br WHERE g = 1 AND pe IS NOT NULL AND ne IS NOT NULL
"""

ORACLE["q_split_hour_sum"] = f"""
SELECT series_id, {_bucket_sql('epoch', 'hour')} AS bucket,
       max(epoch) AS epoch, round(sum(value), 6) AS value
FROM ({PTS}) GROUP BY 1, 2
"""

ORACLE["q_split_day_mean"] = f"""
SELECT series_id, {_bucket_sql('epoch', 'day')} AS bucket,
       max(epoch) AS epoch, round(avg(value), 6) AS value
FROM ({PTS}) GROUP BY 1, 2
"""

_USAGE_TMPL = (
    "WITH "
    + _grid_cte(CUM, 3600)
    + """,
inc AS (SELECT series_id, epoch, value,
    lag(value) OVER (PARTITION BY series_id ORDER BY epoch) AS prev FROM dist),
inc2 AS (SELECT series_id, epoch,
    CASE WHEN prev > value THEN value - 0.0 ELSE value - prev END AS value
    FROM inc WHERE prev IS NOT NULL)
SELECT series_id, {bucket} AS bucket, max(epoch) AS epoch,
       round(sum(value), 6) AS value
FROM inc2 GROUP BY 1, 2
"""
)

ORACLE["q_usage_day"] = _USAGE_TMPL.format(bucket=_bucket_sql("epoch", "day"))
ORACLE["q_usage_week"] = _USAGE_TMPL.format(bucket=_bucket_sql("epoch", "week"))

ORACLE["q_meter_total"] = f"""
WITH pts AS ({CUM}),
p AS (SELECT series_id, epoch, value,
      lag(value) OVER w AS prev,
      row_number() OVER w AS rn,
      count(*) OVER (PARTITION BY series_id) AS n,
      min(epoch) OVER (PARTITION BY series_id) AS first_epoch
      FROM pts WINDOW w AS (PARTITION BY series_id ORDER BY epoch))
SELECT series_id, min(first_epoch) AS epoch,
       round(sum(CASE WHEN rn >= 2 AND rn <= n - 1
                 THEN CASE WHEN value >= prev THEN value - prev ELSE value - 0.0 END
                 ELSE 0.0 END), 6) AS value
FROM p GROUP BY series_id
"""

_EVT = (
    "SELECT user_id AS series_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, "
    "event_type AS value FROM events"
)

ORACLE["q_count_state_change"] = f"""
SELECT series_id, min(epoch) AS epoch,
       CAST(sum(CASE WHEN value = 'click' AND coalesce(prev, 'click') <> 'click'
                THEN 1 ELSE 0 END) AS DOUBLE) AS value
FROM (SELECT series_id, epoch, value,
             lag(value) OVER (PARTITION BY series_id ORDER BY epoch) AS prev
      FROM ({_EVT}))
GROUP BY series_id
"""

ORACLE["q_clean_duplicated"] = f"""
SELECT series_id, epoch, value FROM (
  SELECT series_id, epoch, value,
         lag(value) OVER (PARTITION BY series_id ORDER BY epoch) AS prev
  FROM ({_EVT})) WHERE prev IS NULL OR value <> prev
"""

ORACLE["q_delete_critical"] = f"SELECT * FROM ({_EVT}) WHERE value <> 'error'"

ORACLE["q_histogram"] = """
WITH buckets AS (SELECT unnest(generate_series(0, 49)) AS bucket),
counts AS (
  SELECT CAST(floor((value - 0.0) / 10.0) AS INT) AS bucket, count(*) AS c
  FROM events WHERE value >= 0.0 AND value < 500.0 GROUP BY 1)
SELECT b.bucket AS bucket,
       round(0.0 + b.bucket * 10.0, 6) AS lo,
       round(500.0 - (50 - b.bucket - 1) * 10.0, 6) AS hi,
       coalesce(c.c, 0) AS cnt
FROM buckets b LEFT JOIN counts c ON b.bucket = c.bucket
"""

ORACLE["q_scalar_chain"] = f"""
SELECT series_id, epoch, round(pow(value * 2 - 10, 2) / 4, 6) AS value FROM ({PTS})
"""

ORACLE["q_pair_product"] = f"""
WITH pts AS ({PTS}),
hs AS (SELECT series_id, {_bucket_sql('epoch', 'hour')} AS epoch, sum(value) AS value
       FROM pts GROUP BY 1, 2),
hc AS (SELECT series_id, {_bucket_sql('epoch', 'hour')} AS epoch,
       CAST(count(*) AS DOUBLE) AS value FROM pts GROUP BY 1, 2)
SELECT hs.series_id, hs.epoch, round(hs.value * hc.value, 6) AS value
FROM hs JOIN hc ON hs.series_id = hc.series_id AND hs.epoch = hc.epoch
"""

ORACLE["q_pair_addition_scalar_broadcast"] = f"""
WITH pts AS ({PTS}),
tot AS (SELECT series_id, sum(value) AS total FROM pts GROUP BY 1)
SELECT p.series_id, p.epoch, round(p.value + t.total, 6) AS value
FROM pts p JOIN tot t ON p.series_id = t.series_id
"""

ORACLE["q_rollup_1h"] = f"""
SELECT series_id, 3600*(epoch//3600) AS bucket, count(*) AS cnt,
       round(min(value), 6) AS vmin, round(max(value), 6) AS vmax,
       round(sum(value), 6) AS vsum, round(avg(value), 6) AS vmean
FROM ({PTS}) GROUP BY 1, 2
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_inner_sum": q_inner_sum,
    "q_inner_max": q_inner_max,
    "q_inner_min": q_inner_min,
    "q_inner_mean": q_inner_mean,
    "q_inner_std": q_inner_std,
    "q_last_3": q_last_3,
    "q_increments": q_increments,
    "q_increments_reset": q_increments_reset,
    "q_distribute_locf": q_distribute_locf,
    "q_distribute_fill": q_distribute_fill,
    "q_distribute_linear": q_distribute_linear,
    "q_split_hour_sum": q_split_hour_sum,
    "q_split_day_mean": q_split_day_mean,
    "q_usage_day": q_usage_day,
    "q_usage_week": q_usage_week,
    "q_meter_total": q_meter_total,
    "q_count_state_change": q_count_state_change,
    "q_clean_duplicated": q_clean_duplicated,
    "q_delete_critical": q_delete_critical,
    "q_histogram": q_histogram,
    "q_scalar_chain": q_scalar_chain,
    "q_pair_product": q_pair_product,
    "q_pair_addition_scalar_broadcast": q_pair_addition_scalar_broadcast,
    "q_rollup_1h": q_rollup_1h,
    "q_get_variable": q_get_variable,
    "q_get_increments": q_get_increments,
    "q_compound_formula": q_compound_formula,
    "q_engine_usage_week": q_engine_usage_week,
    "q_column_range": q_column_range,
    "q_group_by_legacy": q_group_by_legacy,
    "q_truncate_round": q_truncate_round,
    "q_gaussian_smooth": q_gaussian_smooth,
    "q_union_merge": q_union_merge,
}
