"""Incremental continuous aggregates over a snapshot table — the
materialized-view maintainer the north rule describes: retention tiers
(1m/1h/1d) kept up to date against an append-only transcript table WITHOUT
rescanning history.

Per refresh (source snapshot ``from`` -> ``to``):

1. read ONLY the files added in ``(from, to]`` (SnapshotTable.incremental);
2. restore latency continuity for mid-conversation appends by unioning one
   anchor row per affected conversation from the persisted conv state
   (conv_id, last_turn_idx, last_epoch) before :func:`rollup.with_latency`
   — the first appended turn's latency is computed against the last turn of
   the PREVIOUS refresh, then anchors are dropped;
3. roll the increment up 1m -> 1h -> 1d (partial reaggregation, never raw).
   Steps 1-3's latency plane and 1m rollup are built ONCE per source range
   and persisted (:meth:`MaterializedTiers._increment`): a
   :meth:`~MaterializedTiers.read_realtime` tail over ``(from, to]`` builds
   them, the refresh to ``to`` reuses them, and every component of the
   refresh shares them;
4. fold each tier increment into the materialized tier with
   :func:`rollup.merge_tier` — but only over the *touched slice*: the
   increment's bucket range comes action-free from the source manifest's
   added-file ts stats, the prior tier files overlapping that range are the
   only ones read and rewritten, and every untouched file is carried into
   the new tier snapshot by reference (SnapshotTable.replace_files).
   Refresh cost is O(increment + overlapping slice), not O(history) — the
   property that matters at 10^12 turns, where a day's append must not
   rewrite three years of 1m buckets;
5. commit tiers in fixed order (1m, 1h, 1d), conv state LAST, each commit
   carrying ``source_to_id`` in its snapshot properties.  A kill between any
   two commits leaves components at mixed source positions; :meth:`refresh`
   reconciles by advancing laggards to the max recorded position first
   (using the conv state, which by commit order is always at the laggard
   position), then advancing everything to the source head.  Re-running a
   completed refresh is a no-op (idempotent by properties check).

Lineage: one JSON record per (component, from->to) refresh with input
rows/bytes (from source manifests — free) and output added rows/bytes (from
the tier commit's own manifest).

Retention (:meth:`apply_retention`): per-tier age cutoffs expire whole data
files via manifest-only commits (SnapshotTable.truncate_before) — raw turns
can be dropped after N days while the 1d tier keeps its aggregates forever,
which is the downsample-retention contract.

Scale notes: conv state is one row per conversation and is rewritten per
refresh; at 10^9 conversations partition it by conv_id hash bucket and
rewrite only buckets containing appended conversations (same
replace_files mechanism; not needed at sandbox scale).  Anchor join is a
broadcast when the increment's conversation set is small.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsengine.operators import rollup as R
from tsengine.session import shuffle_parallelism
from tsengine.sources.snapshots import SnapshotTable, write_json_atomic

_SRC_PROP = "source_to_id"
COMPONENTS = ("1m", "1h", "1d", "convstate")


class InjectedFailure(RuntimeError):
    """Raised by the fail_after test hook to simulate a mid-refresh kill."""


def _ranged(df: DataFrame, n: int | None = None) -> DataFrame:
    """Range-partition tier rows on the bucket's UTC DAY before writing, so
    every data file holds only whole days (the Iceberg analogue: a day()
    partition spec on the tier table).

    - Day alone as the range key: equal keys always land in one partition,
      so no file ever straddles a day boundary — which makes day-cutoff
      retention (truncate_before) exact and keeps per-file [min_ts, max_ts]
      narrow for manifest pruning / slice reuse.  A secondary key (e.g.
      conv_id) would let a sampled partition boundary fall mid-day and
      reintroduce straddling files.
    - The partition count (spark.sql.shuffle.partitions) is passed
      EXPLICITLY: a count-less repartitionByRange is an AQE-coalescible
      shuffle, and coalescing would merge the ranges back into full-span
      files.  REPARTITION_BY_NUM shuffles are exempt.
    - At 100 TB a single day of 1m buckets outgrows one task's file; cap
      file size with spark.sql.files.maxRecordsPerFile — the writer splits
      a partition into several files that each still hold only that
      partition's days.
    - ``n`` (when the caller knows the write's day span from manifest
      stats) caps the partition count: an incremental refresh rewriting a
      two-day slice should emit ~2 files, not shuffle-partition-count tiny
      ones.
    - ``n == 1`` short-circuits to ``repartition(1)``: repartitionByRange
      plans a separate RANGE-SAMPLING job that re-executes the upstream
      plan once before the write — pure fixed cost when everything lands
      in one partition anyway (measured: the dominant per-commit overhead
      of small incremental refreshes).  A single file trivially holds only
      whole days, so the day-wholeness contract is preserved."""
    if n is None:
        n = shuffle_parallelism(df.sparkSession)
    n = max(1, min(int(n), 1024))
    if n == 1:
        return df.repartition(1)
    day = F.floor(F.col("bucket") / F.lit(86400))
    return df.repartitionByRange(n, day)


class MaterializedTiers:
    """Materialized 1m/1h/1d rollups + conv state over a source
    :class:`SnapshotTable` of transcripts, refreshed incrementally."""

    def __init__(self, source: SnapshotTable, state_dir: str,
                 role_vocab: list | None = None, tool_vocab: list | None = None):
        self.source = source
        self.state_dir = state_dir
        self.role_vocab = role_vocab
        self.tool_vocab = tool_vocab
        # wall-clock per component of the LAST refresh() call (diagnostics;
        # bench reports it as the incremental-refresh breakdown)
        self.last_refresh_timings: dict[str, float] = {}
        os.makedirs(os.path.join(state_dir, "_lineage"), exist_ok=True)
        # tier tables index their manifest stats on the bucket column, so
        # time-bounded tier reads and retention prune manifest-side
        self.tiers = {
            t: SnapshotTable(os.path.join(state_dir, f"tier={t}"), ts_col="bucket")
            for t in R.TIER_ORDER
        }
        self.convstate = SnapshotTable(
            os.path.join(state_dir, "convstate"), ts_col=None
        )
        # engine-scoped writer session (see _writer_session)
        self._wspark: SparkSession | None = None
        # the one held source increment, ((session, from, to), lat, 1m)
        # (see _increment); re-entrant so _increment can release under it
        self._inc_lock = threading.RLock()
        self._held: tuple | None = None

    def _writer_session(self, spark: SparkSession) -> SparkSession:
        """Session-scoped conf isolation for tier writes (VERDICT r04 task 7).

        Tier parquet needs INT64 timestamps (INT96 carries no footer min/max,
        blinding manifest pruning), but pinning that conf on the CALLER's
        session during a concurrent refresh leaks it to unrelated writers in
        the same session.  ``newSession()`` shares the SparkContext (cached
        data, scheduler) while giving the engine its own runtime SQL conf, so
        refresh plans and the shared source increment built here write
        INT64 and the caller's session conf is never touched.  Builder-time
        confs (shuffle partitions, AQE) live in the shared SparkContext conf
        and are inherited; caller RUNTIME conf overrides are deliberately
        not (engine writes should not depend on them)."""
        if (
            self._wspark is None
            or self._wspark.sparkContext is not spark.sparkContext
        ):
            ws = spark.newSession()
            ws.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
            self._wspark = ws
        return self._wspark

    # ---------------- positions ----------------

    def _position(self, component: str) -> int:
        tbl = self.convstate if component == "convstate" else self.tiers[component]
        return int(tbl.properties().get(_SRC_PROP, 0))

    def positions(self) -> dict[str, int]:
        """Source snapshot id each component currently reflects (0 = empty)."""
        return {c: self._position(c) for c in COMPONENTS}

    # ---------------- lineage ----------------

    def _lineage(self, component: str, from_id: int, to_id: int,
                 in_rows: int, in_bytes: int, out_rows: int, out_bytes: int,
                 reused_files: int, rewritten_files: int) -> None:
        write_json_atomic(
            os.path.join(self.state_dir, "_lineage",
                         f"{component}__{from_id}_{to_id}.json"),
            {"component": component, "source_from_id": from_id,
             "source_to_id": to_id, "input_rows": in_rows,
             "input_bytes": in_bytes, "output_rows": out_rows,
             "output_bytes": out_bytes, "reused_files": reused_files,
             "rewritten_files": rewritten_files,
             "committed_at": int(time.time())},
        )

    def lineage_rows(self) -> list[dict]:
        d = os.path.join(self.state_dir, "_lineage")
        rows = []
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f)) as fh:
                rows.append(json.load(fh))
        return rows

    # ---------------- increment plumbing ----------------

    def _added_stats(self, from_id: int, to_id: int) -> tuple[int, int, int | None, int | None]:
        """(rows, bytes, min_ts, max_ts) of files added in (from, to] — pure
        manifest arithmetic, no data read."""
        rows = byts = 0
        lo = hi = None
        for sid in range(from_id + 1, to_id + 1):
            man = self.source.snapshot(sid)
            added = set(man["added"])
            for f in man["files"]:
                if f["path"] in added:
                    rows += f["rows"]
                    byts += f["bytes"]
                    if f["min_ts"] is not None:
                        lo = f["min_ts"] if lo is None else min(lo, f["min_ts"])
                    if f["max_ts"] is not None:
                        hi = f["max_ts"] if hi is None else max(hi, f["max_ts"])
        return rows, byts, lo, hi

    def _increment(self, spark: SparkSession, from_id: int,
                   to_id: int) -> tuple[DataFrame, DataFrame]:
        """The source increment ``(from_id, to_id]`` as (latency plane,
        1m rollup), both persisted: built ONCE per source range and shared
        by whichever of :meth:`read_realtime` and :meth:`refresh` asks for
        it first, so an append followed by a real-time read and a refresh
        scans, anchors and rolls up the appended turns once, not twice.

        The latency plane is continuous across the snapshot boundary via
        conv-state anchor rows (``_anchor`` marks them; the 1m rollup drops
        them).  Both frames are built in the engine's writer session, so a
        from-empty tier or conv-state append of them never writes through
        the caller's session.  One range is held at a time: asking for
        another releases the held one first (a lock guards the handover —
        refresh advances components from a thread pool, and readers may
        call concurrently); :meth:`refresh` releases it when done.  The
        range identifies the content: a range's added files and the conv
        state at its start never change."""
        with self._inc_lock:
            ws = self._writer_session(spark)
            key = (ws, from_id, to_id)
            if self._held is None or self._held[0] != key:
                self._release_increment()
                inc = self.source.incremental(ws, from_id, to_id)
                inc = inc.select("conv_id", "turn_idx", "role", "tool", "ts")
                u = inc.withColumn("_anchor", F.lit(False))
                if self.convstate.current_snapshot_id() is not None:
                    anchors = (
                        self.convstate.read(ws)
                        .join(inc.select("conv_id").distinct(), "conv_id")
                        .select(
                            "conv_id",
                            F.col("last_turn_idx").alias("turn_idx"),
                            F.lit(None).cast("string").alias("role"),
                            F.lit(None).cast("string").alias("tool"),
                            F.timestamp_seconds("last_epoch").alias("ts"),
                            F.lit(True).alias("_anchor"),
                        )
                    )
                    u = u.unionByName(anchors)
                lat = R.with_latency(u).persist()
                t1m = R.rollup_raw_to_tier(
                    lat.filter(~F.col("_anchor")), "1m",
                    role_vocab=self.role_vocab, tool_vocab=self.tool_vocab,
                ).persist()
                self._held = (key, lat, t1m)
            return self._held[1], self._held[2]

    def _release_increment(self) -> None:
        """Unpersist the held increment, if any."""
        with self._inc_lock:
            if self._held is not None:
                _, lat, t1m = self._held
                lat.unpersist()
                t1m.unpersist()
                self._held = None

    # ---------------- refresh ----------------

    def _advance_component(self, spark: SparkSession, component: str,
                           from_id: int, to_id: int, lat: DataFrame,
                           inc_1m: DataFrame, added: tuple) -> None:
        """Fold the increment ``(from_id, to_id]`` — its latency plane
        ``lat``, 1m rollup ``inc_1m`` and :meth:`_added_stats` ``added`` —
        into one component and commit it at ``to_id``."""
        in_rows, in_bytes, min_ts, max_ts = added
        props = {_SRC_PROP: to_id}

        if component == "convstate":
            inc = lat.filter(~F.col("_anchor"))
            upd = inc.groupBy("conv_id").agg(
                F.max("turn_idx").alias("last_turn_idx"),
                F.max_by("epoch", "turn_idx").alias("last_epoch"),
            )
            if self.convstate.current_snapshot_id() is None:
                sid = self.convstate.append(upd, properties=props)
            else:
                prev = self.convstate.read(spark)
                merged = (
                    prev.unionByName(upd)
                    .groupBy("conv_id")
                    .agg(F.max("last_turn_idx").alias("last_turn_idx"),
                         F.max_by("last_epoch", "last_turn_idx").alias("last_epoch"))
                )
                sid = self.convstate.overwrite(merged, properties=props)
            man = self.convstate.snapshot(sid)
            self._lineage(component, from_id, to_id, in_rows, in_bytes,
                          man["added_rows"], man["added_bytes"],
                          reused_files=0, rewritten_files=len(man["added"]))
            return

        # tier component: rollup the increment down the chain, then fold
        # into the touched slice only.  Tier data files are written
        # RANGE-partitioned on bucket: a hash-partitioned write would give
        # every file the table's full [min_ts, max_ts] span, so the next
        # refresh's touched-bucket range would overlap every file and the
        # whole tier would be rewritten — O(history), the thing this class
        # exists to avoid.  Narrow per-file bucket ranges are what make
        # slice reuse and file-granular retention real (the Iceberg
        # analogue: a time-based sort order on the tier table's writes).
        # 1h/1d reaggregate from the shared, persisted 1m rollup instead of
        # re-rolling the raw increment once per component
        inc_tier = inc_1m
        for t in R.TIER_ORDER[1:R.TIER_ORDER.index(component) + 1]:
            inc_tier = R.reaggregate(
                inc_tier, t, role_vocab=self.role_vocab, tool_vocab=self.tool_vocab
            )

        tbl = self.tiers[component]
        # output partition count sized to the write's actual day span,
        # action-free from manifest stats, and capped by an upper bound on
        # the written rows (rollup output never exceeds its input turns;
        # slice rows come straight from the manifest): a refresh rewriting
        # a two-day slice emits ~2 day-files instead of
        # shuffle-partition-count tiny ones, and every n==1 write skips the
        # repartitionByRange sampling job.  Files stay DAY-GRANULAR (range
        # boundary sampling may merge adjacent sparse days, but never splits
        # one), which is what makes day-cutoff retention exact at file
        # granularity: truncate_before drops whole files only.
        def _days(lo, hi):
            if lo is None or hi is None:
                return None
            return int(hi // 86400 - lo // 86400) + 1

        def _parts(days, rows_ub):
            if days is None:
                return None
            return max(1, min(days, int(rows_ub)))

        # vmean is derived on read (read_tier), never stored
        if tbl.current_snapshot_id() is None:
            sid = tbl.append(
                _ranged(inc_tier.drop("vmean"),
                        _parts(_days(min_ts, max_ts), in_rows)),
                properties=props,
            )
            reused = overlap = []
        else:
            width = R.TIERS[component]
            # touched bucket range, action-free from source manifest stats;
            # missing stats (never for spark-written micros) -> full merge
            if min_ts is None or max_ts is None:
                lo_b, hi_b = None, None
            else:
                lo_b = width * (min_ts // width)
                hi_b = width * (max_ts // width)
            cur = tbl.snapshot(tbl.current_snapshot_id())
            overlap, reused = [], []
            lo_all, hi_all = lo_b, hi_b
            slice_rows = 0
            for f in cur["files"]:
                misses = (
                    lo_b is not None
                    and f["min_ts"] is not None and f["max_ts"] is not None
                    and (f["max_ts"] < lo_b or f["min_ts"] > hi_b)
                )
                (reused if misses else overlap).append(f["path"])
                if not misses:
                    slice_rows += f["rows"]
                    if f["min_ts"] is not None:
                        lo_all = f["min_ts"] if lo_all is None else min(lo_all, f["min_ts"])
                        hi_all = f["max_ts"] if hi_all is None else max(hi_all, f["max_ts"])
            slice_df = R.with_mean(tbl._read_files(
                spark, [os.path.join(tbl.path, p) for p in overlap], cur["schema"]
            ))
            merged = R.merge_tier(slice_df, inc_tier)
            sid = tbl.replace_files(
                _ranged(merged.drop("vmean"),
                        _parts(_days(lo_all, hi_all), slice_rows + in_rows)),
                overlap, properties=props)
        man = tbl.snapshot(sid)
        self._lineage(component, from_id, to_id, in_rows, in_bytes,
                      man["added_rows"], man["added_bytes"],
                      reused_files=len(reused), rewritten_files=len(man["added"]))

    def refresh(self, spark: SparkSession,
                fail_after: int | None = None) -> dict[str, int]:
        """Bring every component up to the source head.  Safe to re-run after
        a kill at any point; completed component commits are never repeated.

        fail_after=n raises InjectedFailure after n component commits
        (kill-resume tests).  Returns final component positions.

        Cost shape (profiled at sf0.1, BENCH/BASELINE.md): an incremental
        refresh is fixed-cost dominated — per-component Spark job launches,
        not compute — so the components advancing over the SAME increment
        run CONCURRENTLY (they fold into four disjoint tables from one
        shared cached 1m rollup; Spark's scheduler interleaves the jobs and
        a kill mid-flight leaves an arbitrary committed subset, which the
        positions loop already reconciles).  ``fail_after`` forces the
        sequential path (deterministic commit order for kill-resume
        tests).

        The increment (latency plane and 1m rollup) comes from
        :meth:`_increment`, built once per source range: after a
        :meth:`read_realtime` at the same source head it is already
        persisted and the refresh reads no source file, runs no vocabulary
        pre-scan and no anchor join.  Each range's manifest stats are read
        once, not once per component."""
        head = self.source.current_snapshot_id()
        self.last_refresh_timings = {}
        if head is None:
            return self.positions()
        # all refresh plans (reads, rollups, writes) run in the engine's own
        # session so the INT64-timestamp conf never leaks to the caller
        spark = self._writer_session(spark)
        commits = 0
        while True:
            pos = self.positions()
            mn, mx = min(pos.values()), max(pos.values())
            if mn >= head:
                return pos
            # reconcile laggards to the furthest component first (conv state
            # is at the laggard position by commit order), then to head.
            # Every laggard sits at mn (positions never take more than two
            # values), so one increment (mn, target] serves them all.
            target = mx if mx > mn else head
            pending = [c for c in COMPONENTS if pos[c] == mn]
            added = self._added_stats(mn, target)

            def _advance_one(c: str) -> None:
                t0 = time.perf_counter()
                self._advance_component(spark, c, mn, target, lat, t1m, added)
                self.last_refresh_timings[c] = round(
                    self.last_refresh_timings.get(c, 0.0)
                    + (time.perf_counter() - t0), 3)

            try:
                lat, t1m = self._increment(spark, mn, target)
                if fail_after is None and len(pending) > 1:
                    # the engine session already pins TIMESTAMP_MICROS
                    # (_writer_session), so _write_data's per-write
                    # set/restore is a no-op and cannot race across threads
                    from concurrent.futures import ThreadPoolExecutor
                    with ThreadPoolExecutor(len(pending)) as ex:
                        futs = [ex.submit(_advance_one, c) for c in pending]
                        errs = [f.exception() for f in futs]
                    for e in errs:
                        if e is not None:
                            raise e
                    commits += len(pending)
                else:
                    for c in pending:
                        _advance_one(c)
                        commits += 1
                        if fail_after is not None and commits >= fail_after:
                            raise InjectedFailure(
                                f"injected failure after {commits} "
                                "component commits"
                            )
            finally:
                self._release_increment()

    # ---------------- reads & retention ----------------

    def read_tier(self, spark: SparkSession, tier: str,
                  lo: int | None = None, hi: int | None = None) -> DataFrame:
        """Materialized tier rows; lo/hi (epoch seconds on the bucket) prune
        files manifest-side before the residual filter.  ``vmean`` is not
        stored: it is derived here from ``vsum``/``cnt_lat``
        (:func:`rollup.with_mean`), which also replaces the stored copy in
        files written before it was dropped."""
        return R.with_mean(self.tiers[tier].read(spark, lo=lo, hi=hi))

    # ------------- the retired Gorilla tier block store's names

    def block_table(self, tier: str) -> SnapshotTable:
        """The table the tier's Gorilla block rows were once frozen into.
        No engine code writes to it now (each tier is stored once, as the
        zstd row store); it stays only because the benchmark harness
        (``perfbench/workloads.tier_bytes``) sums its bytes, which read 0."""
        return SnapshotTable(
            os.path.join(self.state_dir, f"tier={tier}-blocks"), ts_col="day"
        )

    def freeze_tier_blocks(self, spark: SparkSession, tier: str) -> dict:
        """Writes nothing: the zstd row store is the tier's one at-rest copy,
        so there is no second form to freeze.  Returns the row store's
        {"snapshot_id", "points", "bytes", "bytes_per_point"} from its
        manifest, with no Spark action."""
        tbl = self.tiers[tier]
        sid = tbl.current_snapshot_id()
        files = [] if sid is None else tbl.snapshot(sid)["files"]
        points = sum(f["rows"] for f in files)
        nbytes = sum(f["bytes"] for f in files)
        return {
            "snapshot_id": sid, "points": points, "bytes": nbytes,
            "bytes_per_point": round(nbytes / max(points, 1), 3),
        }

    def read_tier_compressed(self, spark: SparkSession, tier: str,
                             lo: int | None = None,
                             hi: int | None = None) -> DataFrame:
        """The tier's numeric plane: :meth:`read_tier` (same manifest
        pruning on lo/hi) without the role/tool dist maps.  It reads the
        one compressed copy, so it cannot go stale against the tier."""
        return self.read_tier(spark, tier, lo=lo, hi=hi).select(
            "conv_id", "tier", "bucket", "cnt", "cnt_lat",
            "vmin", "vmax", "vsum", "vmean",
        )

    def read_realtime(self, spark: SparkSession, tier: str,
                      lo: int | None = None, hi: int | None = None) -> DataFrame:
        """Real-time continuous aggregate (the TimescaleDB read contract):
        the materialized tier UNIONed with an on-the-fly rollup of the
        source rows committed AFTER the tier's position, merged per bucket
        at read time.  Freshness without refresh cost — a dashboard query
        between refreshes sees every committed turn, yet nothing is
        rewritten and no history is rescanned.  The tail is the very
        increment refresh() folds in: :meth:`_increment` builds the
        ``(position, head]`` range's latency plane (conv-state anchors at
        the boundary) and 1m rollup once, persisted, and the next refresh
        to that head reuses them instead of rebuilding; 1h/1d reaggregate
        from the 1m rollup.  The bucket overlap (a half-filled bucket that
        exists in both the materialized tier and the tail) is folded by
        :func:`rollup.merge_tier`'s decomposable-aggregate merge.

        Read-only: tier tables, conv state and positions are untouched
        (the held increment is a cache, released by the next refresh or by
        a read over another range).
        Requires conv state to be at the tier's source position (true after
        any completed refresh; a kill mid-refresh leaves mixed positions —
        run refresh() first, which reconciles them anyway)."""
        head = self.source.current_snapshot_id() or 0
        pos = self._position(tier)
        mat = self.read_tier(spark, tier, lo=lo, hi=hi) if pos > 0 else None
        if head <= pos:
            if mat is None:
                raise ValueError(f"read_realtime({tier!r}): empty source table")
            return mat
        cs = self._position("convstate")
        if cs != pos:
            raise ValueError(
                f"read_realtime({tier!r}): conv state is at source position "
                f"{cs} but the tier is at {pos} (killed refresh?); run "
                "refresh() to reconcile before real-time reads"
            )
        _, inc = self._increment(spark, pos, head)
        for t in R.TIER_ORDER[1:R.TIER_ORDER.index(tier) + 1]:
            inc = R.reaggregate(
                inc, t, role_vocab=self.role_vocab, tool_vocab=self.tool_vocab
            )
        # mirror read_tier's inclusive bucket bounds on the tail
        if lo is not None:
            inc = inc.filter(F.col("bucket") >= int(lo))
        if hi is not None:
            inc = inc.filter(F.col("bucket") <= int(hi))
        return inc if mat is None else R.merge_tier(mat, inc)

    @staticmethod
    def route_tier(width: int) -> str:
        """Coarsest stored tier whose width divides ``width`` — the
        resolution router: a 6h request reads 6 rows per day from the 1h
        tier instead of 360 from the 1m tier (60x less IO for the identical
        answer; at 10^12 turns the difference between a dashboard query and
        a scan job)."""
        for t in reversed(R.TIER_ORDER):
            w = R.TIERS[t]
            if w <= width and width % w == 0:
                return t
        raise ValueError(
            f"no stored tier divides a {width}s bucket; finest tier is "
            f"{R.TIER_ORDER[0]} ({R.TIERS[R.TIER_ORDER[0]]}s)"
        )

    def read_resampled(self, spark: SparkSession, width: int,
                       lo: int | None = None, hi: int | None = None,
                       realtime: bool = False) -> DataFrame:
        """Downsample-on-read at an arbitrary bucket width (seconds): routes
        to the coarsest materialized tier that divides ``width``
        (:meth:`route_tier`), reaggregates on the fly (one shuffle over
        already-reduced tier rows — raw is never touched), and optionally
        merges the un-materialized source tail first (``realtime=True``).
        ``width`` equal to a stored tier's is a plain pruned tier read."""
        t = self.route_tier(int(width))
        base = (
            self.read_realtime(spark, t, lo=lo, hi=hi)
            if realtime
            else self.read_tier(spark, t, lo=lo, hi=hi)
        )
        if int(width) == R.TIERS[t]:
            return base
        return R.reaggregate(
            base, int(width),
            role_vocab=self.role_vocab, tool_vocab=self.tool_vocab,
        )

    def apply_retention(self, policy: dict[str, int], now_epoch: int,
                        keep_snapshots: int = 2) -> dict[str, int | None]:
        """Expire data older than ``policy[tier]`` seconds per tier (and
        ``policy['raw']`` for the source table) via manifest-only truncation,
        then expire all but ``keep_snapshots`` table snapshots so the dropped
        files are physically deleted.  Carries each table's source position
        property through the truncation commit."""
        out: dict[str, int | None] = {}
        for name, max_age in policy.items():
            tbl = self.source if name == "raw" else self.tiers[name]
            props = None if name == "raw" else {_SRC_PROP: self._position(name)}
            out[name] = tbl.truncate_before(now_epoch - max_age, properties=props)
            tbl.expire_snapshots(keep_last=keep_snapshots)
        return out
