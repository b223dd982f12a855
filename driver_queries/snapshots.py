"""Driver-contract queries for the snapshot-table + incremental
materialized-tier layer (tsengine.sources.snapshots / tsengine.materialize)
— the north rule's "continuous aggregates over an Iceberg table, resumable,
with retention" made value-checkable through the driver gate.

Each query deterministically builds a snapshot table in a temp directory
from the sf_dir events parquet (literal date / turn cutoffs, no wall
clock), drives the engine mechanism under test (time travel, append-diff
incremental read, manifest-only retention truncation, incremental tier
refresh with conv-state anchors), and projects a result a DuckDB oracle
can pin directly against the SAME source parquet — so a wrong manifest, a
lost file, a broken anchor join or a bad merge_tier fold all surface as
value-hash mismatches, not just pytest failures.

Builds are memoized per (sf_dir, process); tables live under
``data.table_dir``'s per-process directory, removed at exit, so re-runs in a
fresh process rebuild from scratch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries.data import (
    ROLE_VOCAB, TOOL_VOCAB, project_tier, table_dir, tier_sql, transcripts,
)

# literal week boundaries inside the events table's fixed Jan-2024 range
_CUT1 = "2024-01-08 00:00:00"
_CUT2 = "2024-01-15 00:00:00"
_CUT3 = "2024-01-22 00:00:00"
_CUT2_EPOCH = 1705276800  # 2024-01-15 00:00:00 UTC

_EVT_COLS = ("event_id", "ts", "user_id", "event_type", "value")

_memo: dict = {}


def _events(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet").select(*_EVT_COLS)
    )


def _weekly_table(spark, sf_dir):
    """Events as a 4-snapshot SnapshotTable (one append per Jan-2024 week).
    Week boundaries are commit boundaries, so per-file ts stats never
    straddle a cutoff and manifest-only retention is exact at _CUT2."""
    from tsengine.sources.snapshots import SnapshotTable

    key = ("weekly", sf_dir)
    if key in _memo:
        return _memo[key]
    ev = _events(spark, sf_dir)
    tbl = SnapshotTable(table_dir("snap"), ts_col="ts")
    lo = None
    for hi in (_CUT1, _CUT2, _CUT3, None):
        batch = ev
        if lo is not None:
            batch = batch.filter(F.col("ts") >= lo)
        if hi is not None:
            batch = batch.filter(F.col("ts") < hi)
        tbl.append(batch)
        lo = hi
    _memo[key] = tbl
    return tbl


def _project(df):
    # epoch micros instead of raw timestamps: value-hash stays encoding-proof
    return df.select(
        F.col("event_id").cast("long").alias("event_id"),
        # events parquet is TIMESTAMP_NTZ; the session tz is pinned UTC, so
        # the cast matches DuckDB's naive-as-UTC epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.col("value").cast("double").alias("value"),
    )


def q_snapshot_time_travel(spark, sf_dir):
    """Pinned read of snapshot 2 (weeks 1-2) AFTER two more appends exist:
    time travel must plan from the pinned manifest, not the current one."""
    tbl = _weekly_table(spark, sf_dir)
    return _project(tbl.read(spark, snapshot_id=2))


def q_snapshot_incremental(spark, sf_dir):
    """Append-diff read (2, 4]: exactly the rows of weeks 3-4, reading ONLY
    the files those two commits added — the continuous-aggregate input
    primitive at 10^12 turns."""
    tbl = _weekly_table(spark, sf_dir)
    return _project(tbl.incremental(spark, 2, 4))


def q_snapshot_retention(spark, sf_dir):
    """Manifest-only retention: truncate_before(week-3 boundary) must drop
    the week-1/2 data files without touching week-3/4 bytes, and the
    surviving table must read exactly ts >= cutoff.  Runs on its own table
    copy (truncation mutates the current snapshot)."""
    key = ("retention", sf_dir)
    if key not in _memo:
        from tsengine.sources.snapshots import SnapshotTable

        src = _weekly_table(spark, sf_dir)
        tbl = SnapshotTable(table_dir("ret"), ts_col="ts")
        for sid in range(1, 5):
            tbl.append(src.incremental(spark, sid - 1, sid))
        tbl.truncate_before(_CUT2_EPOCH)
        tbl.expire_snapshots(keep_last=1)
        _memo[key] = tbl
    return _project(_memo[key].read(spark))


def q_snapshot_compact(spark, sf_dir):
    """Compaction invariance: week-1 events land as TWO interleaved appends
    (event_id parity — same days, so the files are day-overlapping), then
    compact() bin-packs them into day-aligned files in one replace_files
    commit.  The read after compaction must still be exactly week 1."""
    key = ("compact", sf_dir)
    if key not in _memo:
        from tsengine.sources.snapshots import SnapshotTable

        ev = _events(spark, sf_dir).filter(F.col("ts") < _CUT1)
        tbl = SnapshotTable(table_dir("cmp"), ts_col="ts")
        tbl.append(ev.filter(F.col("event_id") % 2 == 0).coalesce(1))
        tbl.append(ev.filter(F.col("event_id") % 2 == 1).coalesce(1))
        assert tbl.compact(spark, target_bytes=128 << 20) is not None
        _memo[key] = tbl
    return _project(_memo[key].read(spark))


def q_materialized_tier_1h(spark, sf_dir):
    """End-to-end incremental continuous aggregate: transcripts land in a
    snapshot table in TWO appends that split every conversation mid-stream
    (turns 1-30, then the rest), MaterializedTiers.refresh runs after each
    append (second refresh reads only the appended files, bridges the
    boundary latency via conv-state anchors, folds via merge_tier into the
    touched slice), and the materialized 1h tier must equal a full rescan
    — the DuckDB oracle rolls up the WHOLE events table in one pass, so
    any anchor or fold error is a value mismatch."""
    import os

    from tsengine.materialize import MaterializedTiers
    from tsengine.sources.snapshots import SnapshotTable

    key = ("mat1h", sf_dir)
    if key not in _memo:
        t = transcripts(spark, sf_dir)
        root = table_dir("mat")
        src = SnapshotTable(os.path.join(root, "source"), ts_col="ts")
        mat = MaterializedTiers(
            src, os.path.join(root, "tiers"),
            role_vocab=ROLE_VOCAB, tool_vocab=TOOL_VOCAB,
        )
        src.append(t.filter(F.col("turn_idx") <= 30))
        mat.refresh(spark)
        src.append(t.filter(F.col("turn_idx") > 30))
        mat.refresh(spark)
        _memo[key] = mat
    return project_tier(_memo[key].read_tier(spark, "1h"))


def q_materialized_1d_retention(spark, sf_dir):
    """Downsample-retention contract: after the materialized build (shares
    q_materialized_tier_1h's table), expire raw turns and 1m buckets older
    than Jan 15 — manifest-only truncation — and read the FULL 1d tier.  The
    coarse tier must still cover the expired window bit-for-bit (oracle:
    full-table 1d rollup), proving the aggregates outlive the raw data that
    produced them."""
    q_materialized_tier_1h(spark, sf_dir)  # ensure the shared build exists
    mat = _memo[("mat1h", sf_dir)]
    key = ("mat1d_ret", sf_dir)
    if key not in _memo:
        # now = Feb 1; raw keeps 17 days (cutoff Jan 15), 1m likewise, the
        # coarser tiers keep everything
        now = 1706745600  # 2024-02-01 00:00:00 UTC
        cut_age = now - _CUT2_EPOCH
        mat.apply_retention({"raw": cut_age, "1m": cut_age}, now_epoch=now)
        _memo[key] = True
    return project_tier(mat.read_tier(spark, "1d"))


def q_stream_ingest_1h(spark, sf_dir):
    """Structured-Streaming ingestion made value-checkable end-to-end: the
    transcript frame lands as TWO parquet files (turns 1-30, then the rest —
    every conversation split mid-stream) consumed as separate micro-batches
    (maxFilesPerTrigger=1, mtime-ordered), each committed to a SnapshotTable
    through the exactly-once foreachBatch sink and folded into the
    materialized tiers by incremental refresh.  The streamed 1h tier must
    equal the full-rescan oracle — shares q_materialized_tier_1h's SQL, so
    a broken micro-batch boundary (lost anchor state, double-committed or
    skipped batch) is a value mismatch, not just a pytest failure."""
    import glob as _glob
    import os
    import shutil

    from tsengine.materialize import MaterializedTiers
    from tsengine.sources.snapshots import SnapshotTable
    from tsengine.streaming import continuous as S

    key = ("stream1h", sf_dir)
    if key not in _memo:
        t = transcripts(spark, sf_dir)
        root = table_dir("stream")
        src_dir = os.path.join(root, "in")
        os.makedirs(src_dir)
        for n, batch in enumerate(
            (t.filter(F.col("turn_idx") <= 30), t.filter(F.col("turn_idx") > 30))
        ):
            stage = os.path.join(root, f"stage{n}")
            batch.coalesce(1).write.parquet(stage)
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dest = os.path.join(src_dir, f"b{n}.parquet")
            shutil.move(part, dest)
            os.utime(dest, (1_000_000 + n, 1_000_000 + n))  # source order
        tbl = SnapshotTable(os.path.join(root, "table"), ts_col="ts")
        mat = MaterializedTiers(
            tbl, os.path.join(root, "tiers"),
            role_vocab=ROLE_VOCAB, tool_vocab=TOOL_VOCAB,
        )
        S.stream_ingest_to_snapshot(
            spark, src_dir, tbl, os.path.join(root, "ckpt"),
            mat=mat, max_files_per_trigger=1,
        )
        assert S.last_stream_batch_id(tbl) == 1  # two micro-batches committed
        _memo[key] = mat
    return project_tier(_memo[key].read_tier(spark, "1h"))


def q_realtime_tier_1h(spark, sf_dir):
    """Real-time continuous aggregate: the tiers are materialized over the
    FIRST append only (turns 1-30); the rest of every conversation is
    committed to the source but NEVER refreshed into the tiers.
    read_realtime('1h') must still equal the full-rescan oracle — the
    materialized half, the on-the-fly tail rollup (boundary latency via
    conv-state anchors), and the half-filled-bucket merge all have to be
    right, and the read must leave tier positions untouched."""
    import os

    from tsengine.materialize import MaterializedTiers
    from tsengine.sources.snapshots import SnapshotTable

    key = ("realtime1h", sf_dir)
    if key not in _memo:
        t = transcripts(spark, sf_dir)
        root = table_dir("rt")
        src = SnapshotTable(os.path.join(root, "source"), ts_col="ts")
        mat = MaterializedTiers(
            src, os.path.join(root, "tiers"),
            role_vocab=ROLE_VOCAB, tool_vocab=TOOL_VOCAB,
        )
        src.append(t.filter(F.col("turn_idx") <= 30))
        mat.refresh(spark)
        src.append(t.filter(F.col("turn_idx") > 30))  # pending tail, no refresh
        assert mat.positions()["1h"] == 1 and src.current_snapshot_id() == 2
        _memo[key] = mat
    mat = _memo[key]
    out = mat.read_realtime(spark, "1h")
    assert mat.positions()["1h"] == 1  # read-only: no tier commit happened
    return project_tier(out)


def q_tier_routed_6h(spark, sf_dir):
    """Downsample-on-read with resolution routing: a 6h request must be
    served by reaggregating the 1h tier (route_tier picks the coarsest
    divisor tier — 6 rows/day read instead of 360 from 1m), and the result
    must equal a full 6h rollup of the raw table (oracle).  Shares
    q_materialized_tier_1h's fully-refreshed build."""
    from tsengine.materialize import MaterializedTiers

    q_materialized_tier_1h(spark, sf_dir)  # ensure the shared build exists
    mat = _memo[("mat1h", sf_dir)]
    assert MaterializedTiers.route_tier(21600) == "1h"
    return project_tier(mat.read_resampled(spark, 21600))


def q_tier_compressed_read(spark, sf_dir):
    """Numeric-plane read of the 1h tier's one at-rest copy (the zstd
    parquet row store), after the shared incremental build: the tier's
    rows without the role/tool dist maps, ``vmean`` derived on read.  The
    oracle rolls up the raw events table directly, so a dropped or
    mis-derived numeric column is a value mismatch."""
    q_materialized_tier_1h(spark, sf_dir)  # ensure the shared build exists
    mat = _memo[("mat1h", sf_dir)]
    return project_tier(mat.read_tier_compressed(spark, "1h"), dists=False)


# ---------------------------------------------------------------- oracles

_EVT_SQL = "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events"

ORACLE = {
    "q_snapshot_time_travel": f"{_EVT_SQL} WHERE ts < TIMESTAMP '{_CUT2}'",
    "q_snapshot_incremental": f"{_EVT_SQL} WHERE ts >= TIMESTAMP '{_CUT2}'",
    "q_snapshot_retention": f"{_EVT_SQL} WHERE ts >= TIMESTAMP '{_CUT2}'",
    "q_snapshot_compact": f"{_EVT_SQL} WHERE ts < TIMESTAMP '{_CUT1}'",
}


ORACLE["q_tier_compressed_read"] = tier_sql(3600, dists=False)
ORACLE["q_materialized_tier_1h"] = tier_sql(3600)
ORACLE["q_materialized_1d_retention"] = tier_sql(86400)
ORACLE["q_stream_ingest_1h"] = tier_sql(3600)
ORACLE["q_realtime_tier_1h"] = tier_sql(3600)
ORACLE["q_tier_routed_6h"] = tier_sql(21600)

QUERIES = {
    "q_snapshot_time_travel": q_snapshot_time_travel,
    "q_snapshot_incremental": q_snapshot_incremental,
    "q_snapshot_retention": q_snapshot_retention,
    "q_materialized_tier_1h": q_materialized_tier_1h,
    "q_snapshot_compact": q_snapshot_compact,
    "q_materialized_1d_retention": q_materialized_1d_retention,
    "q_stream_ingest_1h": q_stream_ingest_1h,
    "q_realtime_tier_1h": q_realtime_tier_1h,
    "q_tier_routed_6h": q_tier_routed_6h,
    "q_tier_compressed_read": q_tier_compressed_read,
}
