"""The two workloads, ``maintain`` and ``dashboard``.

Each is one closed-loop client issuing its operation back to back from
this process until the run's seconds are spent.  Set-up is the historical
build of the workload's starting state (append, refresh from empty and, for
the dashboard, the freeze of the 1m and 1h tiers) in a fresh directory,
then unmeasured warm-up operations; the build's raw turns per second is the
backfill figure.  Only
public tsengine calls are timed, and every timed result is delivered to
the Spark driver (``toArrow``) inside the timer.  Garbage collection runs
wherever the runtimes run it.  Correctness checks run outside the timers;
a mismatch marks the checked operation failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from checks import (check_compressed, check_formula, check_realtime,
                    check_tiers)
from inputs import ANCHOR_EPOCH, EVENTS_DAYS, EVENTS_T0, HOT_EVERY
from metrics import Tally, tail, tree_cpu_s

# tiers the dashboard's historical build freezes into Gorilla blocks; the
# maintain build freezes none, since its cycles never read blocks
FREEZE_TIERS = ("1m", "1h")
# operations run untimed after set-up.  The first is cold, and the second
# still spends 10-20 % more CPU than later ones while the JIT compiles the
# code it runs (a maintain cycle runs code the build does not); later
# operations speed up only a little, which the median absorbs
MAINTAIN_WARMUP_OPS = 2
DASHBOARD_WARMUP_OPS = 2
# op_cpu_p50_s is the median CPU of the first GATED_OPS measured operations,
# and the closed loop runs at least that many whatever the window.  The JIT
# keeps making later operations cheaper, so a median over all of them would
# fall with the number a run fits into its window, which a busy host
# shrinks; later operations are still measured and printed (op_cpu_s)
GATED_OPS = 2
DAY = 86400
# wider than any read the workloads issue, so retention expires snapshots
# and never data a later check reads
RETENTION = {"raw": 3650 * DAY, "1m": 3650 * DAY, "1h": 3650 * DAY,
             "1d": 3650 * DAY}
# maintain's base state holds this share of the turns by ts; each cycle
# appends the next MAINTAIN_SLICE_TURNS of the rest: 1.3 % of the table,
# near the share (1.7 %) of the 16 k-turn cycles in the sizing probe
# (README.md), and small enough that the rest holds a run's cycles
MAINTAIN_BASE_SHARE = 0.9
MAINTAIN_SLICE_TURNS = 1600
RESAMPLE_WIDTHS = (300, 3600, 21600, 86400)
TIER_READ_DAYS = (1, 7)  # a read covers a seeded whole number of days
FORMULA_AGGS = ("inner_sum", "inner_mean", "inner_max", "inner_min")


class Context:
    """What a workload needs: the session, inputs, tracer and a seeded RNG."""

    def __init__(self, spark, work: str, info: dict, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.info = info
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 3])
        self.tally = Tally()
        self.stats: dict[str, list[float]] = {}
        self.base_turns: int | None = None
        self._n = 0
        self._raw_arrow = None

    @staticmethod
    def cpu_s() -> float:
        """CPU seconds of this process, its JVM and the Python workers."""
        return tree_cpu_s(os.getpid())

    def sample(self, key: str, value: float) -> None:
        self.stats.setdefault(key, []).append(value)

    def fresh_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.work, "state", f"s{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    @property
    def raw_arrow(self):
        if self._raw_arrow is None:
            self._raw_arrow = pq.read_table(self.info["transcripts"])
        return self._raw_arrow

    def check_convs(self) -> list[str]:
        """One hot and three ordinary conversations for the oracle check."""
        n = self.info["n_conv"]
        hot = [i for i in range(n) if i % HOT_EVERY == 0]
        cold = [i for i in range(n) if i % HOT_EVERY]
        pick = [int(self.rng.choice(hot))] + [
            int(i) for i in self.rng.choice(cold, 3, replace=False)]
        return [f"conv_{i:08d}" for i in pick]

    def check(self, what: str, mismatches: list[str]) -> None:
        if mismatches:
            self.tally.fail_checked(f"{what}: " + "; ".join(mismatches[:3]))


def closed_loop(ctx: Context, seconds: float, op) -> None:
    """Run ``op`` back to back until ``seconds`` have passed and GATED_OPS
    operations have run, or ``op`` returns False.  An exception fails that
    operation."""
    deadline = time.perf_counter() + seconds
    n = 0
    while True:
        try:
            more = op()
        except Exception:  # noqa: BLE001 - any failure is a failed op
            ctx.tally.record(False, traceback.format_exc(limit=3))
            more = True
        n += 1
        if more is False or (n >= GATED_OPS and time.perf_counter() >= deadline):
            return


def tier_bytes(mt) -> tuple[int, int]:
    """(bytes of tier rows plus frozen blocks, raw turns in the source)."""
    total = 0
    tables = list(mt.tiers.values()) + [mt.block_table(t) for t in mt.tiers]
    for tbl in tables:
        sid = tbl.current_snapshot_id()
        if sid is not None:
            total += sum(f["bytes"] for f in tbl.snapshot(sid)["files"])
    src = mt.source.snapshot(mt.source.current_snapshot_id())
    return total, sum(f["rows"] for f in src["files"])


def _warm_up(ctx: Context, op, n: int) -> float:
    """Start the Python workers, then run ``op(False)`` ``n`` times;
    returns the seconds taken, which count in set-up.  A snapshot read that
    prunes every file returns an empty local frame, which runs in Python
    workers, and the first such read would otherwise pay their start-up
    inside a measured operation."""
    t0 = time.perf_counter()
    ctx.spark.createDataFrame([], "x long").collect()
    for _ in range(n):
        op(False)
    return time.perf_counter() - t0


def _build(ctx: Context, raw_df, freeze: tuple[str, ...]):
    """Historical build into a fresh directory: append ``raw_df``, refresh
    from empty, freeze the ``freeze`` tiers.  Samples its raw turns per
    second as backfill_turns_per_s.  Returns (mt, seconds)."""
    from tsengine.materialize import MaterializedTiers
    from tsengine.sources.snapshots import SnapshotTable

    tr, spark = ctx.tracer, ctx.spark
    d = ctx.fresh_dir()
    src = SnapshotTable(os.path.join(d, "raw"))
    mt = MaterializedTiers(src, os.path.join(d, "mat"))
    t0 = time.perf_counter()
    with tr.span("snapshots.append"):
        src.append(raw_df)
    tr.refresh(mt, spark)
    for tier in freeze:
        with tr.span("materialize.freeze_tier_blocks"):
            mt.freeze_tier_blocks(spark, tier)
    dt = time.perf_counter() - t0
    turns = ctx.info["turns"] if ctx.base_turns is None else ctx.base_turns
    ctx.sample("backfill_turns_per_s", turns / dt)
    return mt, dt


def _tier_checks(ctx: Context, mt, max_epoch: int | None = None) -> None:
    ctx.check("tiers", check_tiers(ctx.spark, mt, ctx.raw_arrow,
                                   ctx.check_convs(), max_epoch))


# ------------------------------------------------------------------ maintain

def _slice_bounds(raw) -> list[int]:
    """Epoch cut points: the base state holds ts <= b[0], the first
    MAINTAIN_BASE_SHARE of the turns by ts; cycle i appends
    b[i] < ts <= b[i+1], the next MAINTAIN_SLICE_TURNS turns.  Cuts fall
    between distinct seconds, so a slice holds at least that many turns."""
    ep = np.sort(raw["ts"].cast("int64").to_numpy() // 1_000_000)
    base = int(ep[int(MAINTAIN_BASE_SHARE * len(ep))])
    rest = ep[ep > base]
    cuts = rest[MAINTAIN_SLICE_TURNS - 1::MAINTAIN_SLICE_TURNS]
    return [base] + [int(x) for x in np.unique(cuts)]


def maintain(ctx: Context, seconds: float) -> dict:
    from pyspark.sql import functions as F

    spark, tr = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    raw_df = spark.read.parquet(ctx.info["transcripts"])
    bounds = _slice_bounds(ctx.raw_arrow)
    load_s = time.perf_counter() - t0
    ts = F.col("ts")

    def between(lo, hi):
        return raw_df.filter((ts > F.timestamp_seconds(F.lit(lo)))
                             & (ts <= F.timestamp_seconds(F.lit(hi))))

    base_ep = ctx.raw_arrow["ts"].cast("int64").to_numpy() // 1_000_000
    ctx.base_turns = int((base_ep <= bounds[0]).sum())
    base_df = raw_df.filter(ts <= F.timestamp_seconds(F.lit(bounds[0])))
    mt, build_s = _build(ctx, base_df, freeze=())
    pos = {"i": 0}

    def cycle(measured: bool):
        i = pos["i"]
        if i + 1 >= len(bounds):
            return False
        pos["i"] += 1
        lo, hi = bounds[i], bounds[i + 1]
        cpu0, c0 = ctx.cpu_s(), time.perf_counter()
        with tr.span("snapshots.append"):
            mt.source.append(between(lo, hi))
        a_s = time.perf_counter() - c0
        rt, rt_s = tr.read(
            "materialize.read_realtime",
            lambda: mt.read_realtime(spark, "1h", lo=hi - DAY, hi=hi),
            lambda df: df.toArrow())
        r_s = tr.refresh(mt, spark)
        with tr.span("materialize.apply_retention"):
            mt.apply_retention(RETENTION, now_epoch=hi)
        dt, cpu = time.perf_counter() - c0, ctx.cpu_s() - cpu0
        if measured:
            ctx.tally.record(True)
            ctx.sample("op_s", dt)
            ctx.sample("op_cpu_s", cpu)
            ctx.sample("append_s", a_s)
            ctx.sample("realtime_read_s", rt_s)
            ctx.sample("refresh_s", r_s)
            pos["rt"] = rt
        pos["hi"] = hi
        return True

    warmup_s = _warm_up(ctx, cycle, MAINTAIN_WARMUP_OPS)
    tr.enabled = ctx.trace_requested
    closed_loop(ctx, seconds, lambda: cycle(True))
    tr.enabled = False
    # checks run after the loop so they do not eat into its window; nothing
    # has been appended since the last cycle's real-time read
    if "rt" in pos:
        ctx.check("realtime", check_realtime(pos["rt"], spark, mt, "1h",
                                             pos["hi"] - DAY, pos["hi"]))
    _tier_checks(ctx, mt, max_epoch=pos["hi"])
    nbytes, nturns = tier_bytes(mt)
    return {"load_s": load_s, "build_s": build_s, "warmup_s": warmup_s,
            "tier_bytes_per_turn": nbytes / nturns}


# ------------------------------------------------------------------ dashboard

def _formula_requests(ctx: Context, series_ok) -> list[dict]:
    """One request per formula class, parameters drawn from the seed."""
    now = EVENTS_T0 + int(ctx.rng.integers(8, EVENTS_DAYS + 1)) * DAY
    users = series_ok(now)
    a, b = (int(x) for x in ctx.rng.choice(users, 2, replace=False))
    agg = str(ctx.rng.choice(FORMULA_AGGS))
    gv = "get_variable({s}; time_int = 3600; now = {now}; range = last_week)"
    gi = "get_increments({s}; time_int = 3600; now = {now}; range = last_week)"
    return [
        {"kind": "split_agg", "agg": agg, "series": [a], "now": now,
         "cum": False,
         "text": f"{agg}(split({gv.format(s=a, now=now)}; period = day))"},
        {"kind": "usage", "series": [a], "now": now, "cum": True,
         "text": f"inner_sum(split({gi.format(s=a, now=now)}; period = day))"},
        {"kind": "product", "series": [a, b], "now": now, "cum": False,
         "text": f"product({gv.format(s=a, now=now)}; "
                 f"{gv.format(s=b, now=now)})"},
    ]


def dashboard(ctx: Context, seconds: float) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tsengine.plans.api import Engine

    spark, tr = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    raw_df = spark.read.parquet(ctx.info["transcripts"])
    ev = spark.read.parquet(ctx.info["events"]).select(
        F.col("user_id").alias("series_id"),
        F.col("ts").cast("timestamp").cast("long").alias("epoch"), "value")
    # cumulative meter: same-second events pre-summed, then a running sum
    w = Window.partitionBy("series_id").orderBy("epoch").rowsBetween(
        Window.unboundedPreceding, 0)
    cum = (ev.groupBy("series_id", "epoch").agg(F.sum("value").alias("value"))
           .withColumn("value", F.sum("value").over(w)))
    engines = {False: Engine(spark, ev), True: Engine(spark, cum)}
    ev_tbl = pq.read_table(ctx.info["events"], columns=["ts", "user_id"])
    ev_epoch = ev_tbl["ts"].cast("int64").to_numpy() // 1_000_000
    ev_user = ev_tbl["user_id"].to_numpy()

    def series_ok(now):
        inside = (ev_epoch >= now - 7 * DAY) & (ev_epoch <= now)
        return np.unique(ev_user[inside])

    raw_ep = ctx.raw_arrow["ts"].cast("int64").to_numpy() // 1_000_000
    span_days = int((raw_ep.max() - ANCHOR_EPOCH) // DAY) + 1
    load_s = time.perf_counter() - t0
    # the historical build is this workload's set-up and, traced, its
    # append / refresh-from-empty / freeze spans
    tr.enabled = ctx.trace_requested
    mt, build_s = _build(ctx, raw_df, freeze=FREEZE_TIERS)
    tr.enabled = False

    def tier_range():
        days = int(ctx.rng.integers(TIER_READ_DAYS[0], TIER_READ_DAYS[1] + 1))
        d0 = int(ctx.rng.integers(0, max(1, span_days - days + 1)))
        lo = ANCHOR_EPOCH - ANCHOR_EPOCH % DAY + d0 * DAY
        return lo, lo + days * DAY - 1

    to_arrow = lambda df: df.toArrow()  # noqa: E731

    def page(measured: bool):
        """One page of requests; returns its deferred correctness checks."""
        cpu0, c0 = ctx.cpu_s(), time.perf_counter()
        for width in RESAMPLE_WIDTHS:
            lo, hi = tier_range()
            _, dt = tr.read("materialize.read_resampled",
                            lambda: mt.read_resampled(spark, width, lo=lo, hi=hi),
                            to_arrow)
            if measured:
                ctx.tally.record(True)
                ctx.sample("tier_read_s", dt)
                ctx.sample("request_s", dt)
        lo, hi = tier_range()
        got, dt = tr.read("materialize.read_tier_compressed",
                          lambda: mt.read_tier_compressed(spark, "1h", lo=lo, hi=hi),
                          to_arrow)
        if measured:
            ctx.tally.record(True)
            ctx.sample("tier_read_s", dt)
            ctx.sample("request_s", dt)
        checks = [("compressed 1h",
                   lambda g=got, lo=lo, hi=hi:
                   check_compressed(g, spark, mt, "1h", lo, hi))]
        for req in _formula_requests(ctx, series_ok):
            eng = engines[req["cum"]]
            res, dt = tr.read("plans.query", lambda: eng.query(req["text"]),
                              to_arrow)
            if measured:
                ctx.tally.record(True)
                ctx.sample("formula_s", dt)
                ctx.sample("request_s", dt)
            checks.append((f"formula {req['kind']}",
                           lambda g=res, r=req:
                           check_formula(g, r, ctx.info["events"])))
        dt, cpu = time.perf_counter() - c0, ctx.cpu_s() - cpu0
        if measured:
            ctx.sample("op_s", dt)
            ctx.sample("op_cpu_s", cpu)
        return checks

    warmup_s = _warm_up(ctx, page, DASHBOARD_WARMUP_OPS)
    pages = []
    tr.enabled = ctx.trace_requested
    closed_loop(ctx, seconds, lambda: pages.append(page(True)))
    tr.enabled = False
    # the first measured page is checked after the loop, outside its window
    for what, fn in pages[0] if pages else ():
        ctx.check(what, fn())
    _tier_checks(ctx, mt)
    nbytes, nturns = tier_bytes(mt)
    return {"load_s": load_s, "build_s": build_s, "warmup_s": warmup_s,
            "tier_bytes_per_turn": nbytes / nturns}


WORKLOADS = {"maintain": maintain, "dashboard": dashboard}


def summarize(stats: dict[str, list[float]]) -> dict:
    """Median, tail and sample count of every sampled series."""
    out = {}
    for key, vals in stats.items():
        t = tail(vals)
        out[key] = {
            "p50": statistics.median(vals), "n": len(vals), "values": vals,
            "tail": None if t is None else {"pct": t[0], "value": t[1],
                                            "beyond": t[2]},
        }
    return out
