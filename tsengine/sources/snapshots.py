"""Minimal Iceberg-style snapshot table format over parquet.

The north rule targets an Iceberg table; this sandbox ships no Iceberg
runtime jar, so this module implements the three Iceberg capabilities the
rollup/retention engine actually consumes — as a from-scratch manifest
format, NOT a port of Iceberg's:

- **atomic snapshot commits with optimistic concurrency**: data files land
  under ``data/<commit-uuid>/`` first; the commit point is an EXCLUSIVE
  hard-link of the manifest to ``snap-<n>.json`` (``os.link`` fails with
  EEXIST if another writer owns that id — the same arbitration Iceberg's
  HadoopTableOperations gets from rename-without-overwrite).  Exactly one
  writer can ever own a snapshot id, so a lost update is impossible by
  construction: the loser gets ``CommitConflict`` and the public write ops
  retry against the new current snapshot (re-validating, for replace
  commits, that their dropped files still exist).  ``current.json`` is a
  monotonic cache of the head pointer; ``current_snapshot_id`` reconciles
  it with the manifests on disk, so a crash between manifest link and
  pointer write still leaves the commit visible.  A crash anywhere before
  the manifest link leaves the table bit-identical at the previous
  snapshot; orphaned data files are invisible (readers only ever open
  files listed in a committed manifest).
- **time travel / snapshot isolation**: ``read(snapshot_id=...)`` and
  ``as_of(epoch)`` plan from a pinned manifest, so concurrent appends never
  change what an in-flight job reads.
- **incremental (append-diff) reads**: ``incremental(from_id, to_id)``
  returns ONLY the files added in ``(from_id, to_id]`` — the primitive a
  continuous aggregate consumes to roll up just the new data instead of
  rescanning 100 TB (tsengine.operators.rollup.merge_tier folds the
  incremental tier rows into the previous state).

Scan planning is Python-side over per-file min/max stats in the manifest
(collected from parquet footers via pyarrow at commit time — no extra Spark
job), mirroring Iceberg's manifest pruning: a time-range read opens only
files whose [min_ts, max_ts] intersects the predicate, and the residual
filter still runs in Spark for row-group/row-level exactness.

This is the engine's one table format: appended transcripts, materialized
tiers and conv state are all SnapshotTables.  It
stands in for Iceberg without a catalog, and is deliberately single-table,
optimistic-concurrency (CommitConflict on a lost race), and
JSON-manifest-simple.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's snapshot read and its
    pointer swap (optimistic concurrency, Iceberg-style).  Retry the commit
    against the new current snapshot."""


def write_json_atomic(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to ``path`` durably and all at once: a temp
    file is written and fsynced, then renamed over ``path``, so a crash
    leaves either the old file or the complete new one, never a torn or
    empty one."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _norm_stat(v, as_epoch: bool):
    """Normalize a parquet footer stat value for the manifest: timestamps ->
    epoch seconds, bytes -> utf-8 str, everything else as-is (JSON-able)."""
    if as_epoch:
        return int(v.timestamp()) if hasattr(v, "timestamp") else int(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if hasattr(v, "timestamp"):
        return int(v.timestamp())
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _col_bounds(pf, meta, col_name: str, as_epoch: bool) -> tuple:
    """(min, max) of a column across row groups from the parquet footer, or
    (None, None) when the column is missing or any row group lacks stats.
    Caveat: parquet writers may truncate long binary stats; conv ids and the
    other stat columns used here are short enough to stay exact."""
    try:
        idx = pf.schema_arrow.get_field_index(col_name)
    except (KeyError, ValueError):
        return None, None
    if idx < 0:
        return None, None
    lo = hi = None
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None  # incomplete stats -> no bounds, never pruned
        mn = _norm_stat(st.min, as_epoch)
        mx = _norm_stat(st.max, as_epoch)
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return lo, hi


def _file_stats(path: str, ts_col: str | None,
                stat_cols: tuple = ()) -> dict:
    """Rows + min/max of ``ts_col`` (normalized to epoch seconds) and of each
    extra ``stat_cols`` column from the parquet footer (pyarrow) — planning
    stats without reading data pages.  A missing/statless column yields None
    bounds (file never pruned on it)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    meta = pf.metadata
    out = {"path": None, "rows": meta.num_rows, "bytes": os.path.getsize(path),
           "min_ts": None, "max_ts": None}
    if ts_col is not None:
        out["min_ts"], out["max_ts"] = _col_bounds(pf, meta, ts_col, as_epoch=True)
    stats = {}
    for c in stat_cols:
        lo, hi = _col_bounds(pf, meta, c, as_epoch=False)
        if lo is not None:
            stats[c] = [lo, hi]
    if stats:
        out["stats"] = stats
    return out


class SnapshotTable:
    """A snapshot-versioned parquet table rooted at ``path``.

    Layout::

        <path>/data/<commit-uuid>/part-*.parquet
        <path>/metadata/snap-<n>.json     one manifest per snapshot
        <path>/metadata/current.json      atomic pointer {"snapshot_id": n}
    """

    def __init__(self, path: str, ts_col: str | None = "ts",
                 stat_cols: tuple = ()):
        self.path = path
        self.ts_col = ts_col
        # extra per-file min/max manifest stats (e.g. ("conv_id",)): enables
        # manifest-level conv-range pruning when writes cluster by that
        # column (sortWithinPartitions / repartitionByRange before append)
        self.stat_cols = tuple(stat_cols)
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")

    # ---- metadata plumbing ----

    def _snap_path(self, sid: int) -> str:
        return os.path.join(self.meta_dir, f"snap-{sid:08d}.json")

    def _pointer(self) -> int | None:
        try:
            with open(os.path.join(self.meta_dir, "current.json")) as f:
                return json.load(f)["snapshot_id"]
        except FileNotFoundError:
            return None

    def _max_manifest_id(self) -> int | None:
        """Largest committed manifest on disk (the exclusive link IS the
        commit point; the pointer file is only a cache of this)."""
        if not os.path.isdir(self.meta_dir):
            return None
        best = None
        for name in os.listdir(self.meta_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                try:
                    sid = int(name[5:-5])
                except ValueError:
                    continue
                best = sid if best is None else max(best, sid)
        return best

    def current_snapshot_id(self) -> int | None:
        """Head snapshot: the pointer cache reconciled with manifests on
        disk, so a writer that crashed between the manifest link (the commit
        point) and the pointer write still has its commit visible."""
        ptr, man = self._pointer(), self._max_manifest_id()
        if ptr is None:
            return man
        if man is None:
            return ptr
        return max(ptr, man)

    def snapshot(self, sid: int) -> dict:
        with open(self._snap_path(sid)) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Committed snapshots, oldest first (only those reachable from the
        current pointer's numbering; expired ones are gone)."""
        if not os.path.isdir(self.meta_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snap-") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    out.append(json.load(f))
        cur = self.current_snapshot_id()
        return [s for s in out if cur is not None and s["snapshot_id"] <= cur]

    def as_of(self, epoch: float) -> int:
        """Largest committed snapshot id with commit time <= ``epoch``."""
        cands = [s["snapshot_id"] for s in self.snapshots() if s["committed_at"] <= epoch]
        if not cands:
            raise ValueError(f"no snapshot at or before {epoch}")
        return max(cands)

    # ---- writes ----

    def _write_data(self, df: DataFrame) -> tuple[list[dict], str]:
        """Stage data files for a commit (visible to no reader until the
        manifest + pointer land).  Returns (file entries, schema json)."""
        os.makedirs(self.meta_dir, exist_ok=True)
        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, commit_id)
        # Spark's default INT96 parquet timestamps carry no min/max footer
        # stats, which would blind manifest pruning — write INT64 micros.
        # Every engine table is zstd-compressed, set here as a write option
        # so the caller's own writes keep their session codec.
        spark = df.sparkSession
        key = "spark.sql.parquet.outputTimestampType"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            (df.write.mode("errorifexists").option("compression", "zstd")
             .parquet(out_dir))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        entries = []
        for root, _dirs, files in os.walk(out_dir):
            for fname in sorted(files):
                if not fname.endswith(".parquet"):
                    continue
                full = os.path.join(root, fname)
                st = _file_stats(full, self.ts_col, self.stat_cols)
                if st["rows"] == 0:
                    # empty part files carry no stats, so they would defeat
                    # manifest pruning (and slice-local refresh) forever
                    os.remove(full)
                    continue
                st["path"] = os.path.relpath(full, self.path)
                entries.append(st)
        return entries, df.schema.json()

    def _commit(self, op: str, new_files: list[dict], schema_json: str,
                expected_parent: int | None,
                removed_paths: set[str] | None = None,
                properties: dict | None = None) -> int:
        cur = self.current_snapshot_id()
        if cur != expected_parent:
            raise CommitConflict(
                f"current snapshot is {cur}, expected {expected_parent}"
            )
        base = [] if (op == "overwrite" or cur is None) else self.snapshot(cur)["files"]
        if removed_paths:
            base = [f for f in base if f["path"] not in removed_paths]
        sid = (cur or 0) + 1
        manifest = {
            "snapshot_id": sid,
            "parent_id": cur,
            "operation": op,
            "committed_at": time.time(),
            "schema": schema_json,
            "properties": properties or {},
            "files": base + new_files,
            "added": [f["path"] for f in new_files],
            "removed": sorted(removed_paths) if removed_paths else [],
            "added_rows": sum(f["rows"] for f in new_files),
            "added_bytes": sum(f["bytes"] for f in new_files),
        }
        # Exclusive hard-link = the commit point.  os.link fails with EEXIST
        # when another writer already owns this snapshot id, so two racing
        # writers can NEVER both commit the same sid — the check-then-write
        # window of a pointer swap does not exist here.
        tmp = f"{self._snap_path(sid)}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._snap_path(sid))
        except FileExistsError:
            raise CommitConflict(
                f"lost commit race: snapshot {sid} was committed by another "
                "writer"
            ) from None
        finally:
            os.remove(tmp)
        self._advance_pointer(sid)
        return sid

    def _advance_pointer(self, sid: int) -> None:
        """Best-effort monotonic cache update; current_snapshot_id reconciles
        with manifests, so an out-of-order or lost pointer write is benign."""
        cur = self._pointer()
        if cur is None or sid > cur:
            write_json_atomic(os.path.join(self.meta_dir, "current.json"),
                               {"snapshot_id": sid})

    def _retrying_commit(self, op: str, files: list[dict], schema: str,
                         parent: int | None,
                         removed_paths: set[str] | None = None,
                         properties: dict | None = None,
                         max_retries: int = 10) -> int:
        """Optimistic-concurrency loop (Iceberg's commit retry): on a lost
        race, re-read the new current snapshot and re-attempt the commit
        against it.  The staged data files are still valid — only the
        manifest base changes.  Replace commits additionally re-validate
        that every dropped path still exists in the new current manifest;
        if a concurrent commit already removed one (e.g. two compactions
        picking the same files), the conflict is surfaced to the caller,
        who must recompute — retrying blindly would resurrect or double-
        drop files."""
        attempt = 0
        while True:
            try:
                return self._commit(op, files, schema, parent,
                                    removed_paths=removed_paths,
                                    properties=properties)
            except CommitConflict:
                if attempt >= max_retries:
                    raise
                attempt += 1
                time.sleep(0.002 * attempt)
                parent = self.current_snapshot_id()
                if removed_paths and parent is not None:
                    live = {f["path"] for f in self.snapshot(parent)["files"]}
                    gone = removed_paths - live
                    if gone:
                        raise CommitConflict(
                            f"concurrent commit already removed {sorted(gone)[:3]}"
                            f"{'...' if len(gone) > 3 else ''}; recompute the "
                            "replace against the new snapshot"
                        ) from None

    def append(self, df: DataFrame, properties: dict | None = None,
               max_retries: int = 10) -> int:
        """Append ``df`` as a new snapshot; returns the new snapshot id.
        Concurrent-writer safe: a lost commit race is retried against the
        new current snapshot (the staged files stay valid), so interleaved
        appends from multiple writers all land, each as its own snapshot."""
        parent = self.current_snapshot_id()
        files, schema = self._write_data(df)
        return self._retrying_commit("append", files, schema, parent,
                                     properties=properties,
                                     max_retries=max_retries)

    def overwrite(self, df: DataFrame, properties: dict | None = None,
                  max_retries: int = 10) -> int:
        """Replace table contents as a new snapshot (old snapshots remain
        time-travel readable until expired)."""
        parent = self.current_snapshot_id()
        files, schema = self._write_data(df)
        return self._retrying_commit("overwrite", files, schema, parent,
                                     properties=properties,
                                     max_retries=max_retries)

    def replace_files(self, df: DataFrame | None, drop_paths: list[str],
                      properties: dict | None = None,
                      max_retries: int = 10) -> int:
        """Partial-overwrite commit (Iceberg's overwrite-with-deletes): the
        new snapshot keeps every current file NOT in ``drop_paths``, plus the
        files of ``df`` (None = pure delete).  This is what makes incremental
        tier refresh and retention O(touched slice), not O(table): untouched
        data files are carried into the new manifest by reference, never
        rewritten.  ``drop_paths`` are table-relative paths as listed in the
        manifest.

        Concurrent-writer safe: a lost race against an APPEND retries and
        succeeds (the appended files are carried into the new base); a lost
        race against a commit that REMOVED any of ``drop_paths`` raises
        ``CommitConflict`` — the replacement was computed from files that no
        longer exist, so the caller must recompute."""
        parent = self.current_snapshot_id()
        if parent is None:
            raise ValueError("replace_files on an empty table")
        if df is not None:
            files, schema = self._write_data(df)
        else:
            files, schema = [], self.snapshot(parent)["schema"]
        return self._retrying_commit("replace", files, schema, parent,
                                     removed_paths=set(drop_paths),
                                     properties=properties,
                                     max_retries=max_retries)

    def truncate_before(self, cutoff: int, properties: dict | None = None) -> int | None:
        """Retention: drop every data file whose max ``ts_col`` stat is below
        ``cutoff`` (epoch seconds) — a manifest-only commit, no data read or
        rewrite.  File-granularity by design: a file straddling the cutoff is
        kept whole (documented retention semantics; writers that partition by
        time make the boundary exact).  Returns the new snapshot id, or None
        when nothing is expired."""
        cur = self.current_snapshot_id()
        if cur is None:
            return None
        drop = [f["path"] for f in self.snapshot(cur)["files"]
                if f["max_ts"] is not None and f["max_ts"] < cutoff]
        if not drop:
            return None
        return self.replace_files(None, drop, properties=properties)

    def properties(self, snapshot_id: int | None = None) -> dict:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return {}
        return self.snapshot(sid).get("properties", {})

    # ---- reads ----

    def _plan_files(self, manifest: dict, lo: int | None, hi: int | None,
                    where: dict | None = None) -> list[str]:
        """Manifest-level file pruning: skip any file whose ts stats miss
        [lo, hi] or whose per-column [min, max] stats (``stats`` entry) miss
        a ``where`` range {col: (lo, hi)} — Iceberg-style scan planning,
        including conv_id-range pruning when the table tracks conv stats."""
        keep = []
        for f in manifest["files"]:
            if lo is not None and f["max_ts"] is not None and f["max_ts"] < lo:
                continue
            if hi is not None and f["min_ts"] is not None and f["min_ts"] > hi:
                continue
            miss = False
            for col, (wlo, whi) in (where or {}).items():
                b = f.get("stats", {}).get(col)
                if b is None:
                    continue  # no stats -> cannot prune on this column
                if wlo is not None and b[1] < wlo:
                    miss = True
                    break
                if whi is not None and b[0] > whi:
                    miss = True
                    break
            if miss:
                continue
            keep.append(os.path.join(self.path, f["path"]))
        return keep

    def _read_files(self, spark: SparkSession, files: list[str], schema_json: str) -> DataFrame:
        schema = StructType.fromJson(json.loads(schema_json))
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*files)

    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             lo: int | None = None, hi: int | None = None,
             where: dict | None = None) -> DataFrame:
        """Read a snapshot (default: current).  ``lo``/``hi`` (epoch seconds,
        inclusive) and ``where`` ({col: (lo, hi)} inclusive ranges over
        ``stat_cols`` columns, e.g. {"conv_id": ("conv_000a", "conv_000z")})
        prune files manifest-side AND apply residual filters in Spark for
        row-level exactness."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"empty table (no committed snapshot) at {self.path}")
        man = self.snapshot(sid)
        df = self._read_files(spark, self._plan_files(man, lo, hi, where),
                              man["schema"])
        # double cast: TIMESTAMP_NTZ has no direct long cast (long/timestamp
        # columns pass through the first cast unchanged)
        ep = F.col(self.ts_col).cast("timestamp").cast("long") if self.ts_col else None
        if self.ts_col and lo is not None:
            df = df.filter(ep >= int(lo))
        if self.ts_col and hi is not None:
            df = df.filter(ep <= int(hi))
        for col, (wlo, whi) in (where or {}).items():
            if wlo is not None:
                df = df.filter(F.col(col) >= wlo)
            if whi is not None:
                df = df.filter(F.col(col) <= whi)
        return df

    def incremental(self, spark: SparkSession, from_id: int,
                    to_id: int | None = None) -> DataFrame:
        """Rows added by snapshots in ``(from_id, to_id]`` — reads ONLY the
        added files.  Raises on an overwrite inside the range (the diff is no
        longer append-only; the caller must recompute from the new base)."""
        to_id = self.current_snapshot_id() if to_id is None else to_id
        if to_id is None or from_id > to_id:
            raise ValueError(f"bad snapshot range ({from_id}, {to_id}]")
        files: list[str] = []
        schema_json = self.snapshot(to_id)["schema"]
        for sid in range(from_id + 1, to_id + 1):
            man = self.snapshot(sid)
            # pure-delete commits (retention truncation) add no rows, so the
            # append-diff stays valid across them — already-materialized
            # aggregates outlive the raw files they came from
            if man["operation"] != "append" and man["added"]:
                raise ValueError(
                    f"snapshot {sid} is {man['operation']!r} with added files — "
                    "incremental diff invalid across it"
                )
            files.extend(os.path.join(self.path, p) for p in man["added"])
        return self._read_files(spark, files, schema_json)

    # ---- maintenance ----

    def compact(self, spark: SparkSession, target_bytes: int = 128 << 20,
                properties: dict | None = None,
                cluster_by: str | None = None,
                files_per_day: int = 4) -> int | None:
        """Bin-pack small data files (Iceberg ``rewrite_data_files``
        analogue): files under ``target_bytes`` are rewritten into
        day-aligned larger files in ONE replace_files commit; every other
        file is carried by reference.  Small files accumulate naturally
        under incremental refresh (one commit per refresh), and each tiny
        file costs a scan task + a manifest entry at read time.

        Day alignment is preserved (``repartitionByRange`` on the ts day
        alone — same argument as materialize._ranged), so retention cutoffs
        at day boundaries stay exact after compaction.  Only days that
        actually have 2+ small files are rewritten.  Returns the new
        snapshot id, or None when there is nothing to compact.

        ``cluster_by`` (Iceberg sort-order rewrite analogue): additionally
        sort each day partition by that column and split it into
        ~``files_per_day`` files via ``maxRecordsPerFile`` — each output
        file then covers ONE day and a NARROW ``cluster_by`` range, so
        manifest min/max pruning on that stat column (``stat_cols``) skips
        most of a day's files for key-filtered reads.  Day-exactness is
        untouched: the partitioning is still day-range; the sort + row-count
        split happen inside whole-day partitions."""
        cur = self.current_snapshot_id()
        if cur is None:
            return None
        man = self.snapshot(cur)
        by_day: dict[int, list[dict]] = {}
        for f in man["files"]:
            if f["bytes"] >= target_bytes:
                continue
            if self.ts_col is not None and f["min_ts"] is None:
                continue
            key = 0 if self.ts_col is None else f["min_ts"] // 86400
            by_day.setdefault(key, []).append(f)
        picked = [f for fs in by_day.values() if len(fs) >= 2 for f in fs]
        if not picked:
            return None
        total = sum(f["bytes"] for f in picked)
        nbins = max(1, -(-total // target_bytes),
                    len({f["min_ts"] // 86400 for f in picked}))
        df = self._read_files(
            spark, [os.path.join(self.path, f["path"]) for f in picked],
            man["schema"],
        )
        if self.ts_col is not None:
            # double cast: TIMESTAMP_NTZ has no direct long cast
            epoch = F.col(self.ts_col).cast("timestamp").cast("long")
            day = F.floor(epoch / F.lit(86400))
            df = df.repartitionByRange(int(nbins), day)
            if cluster_by is not None:
                df = df.sortWithinPartitions(day, F.col(cluster_by))
        else:
            df = df.repartition(int(nbins))
            if cluster_by is not None:
                df = df.sortWithinPartitions(F.col(cluster_by))
        if cluster_by is None:
            return self.replace_files(
                df, [f["path"] for f in picked], properties=properties,
            )
        # row-count split inside the sorted day partitions: target the
        # biggest rewritten day's rows / files_per_day (action-free — row
        # counts come from the manifest entries being rewritten)
        day_rows: dict[int, int] = {}
        for f in picked:
            key = 0 if self.ts_col is None else f["min_ts"] // 86400
            day_rows[key] = day_rows.get(key, 0) + f["rows"]
        per_file = max(1, -(-max(day_rows.values()) // max(1, files_per_day)))
        key = "spark.sql.files.maxRecordsPerFile"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, str(per_file))
        try:
            return self.replace_files(
                df, [f["path"] for f in picked], properties=properties,
            )
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files no kept snapshot references (retention maintenance).  Returns
        deleted data-file paths."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return []
        kept, dropped = snaps[-keep_last:], snaps[:-keep_last]
        live = {f["path"] for s in kept for f in s["files"]}
        deleted = []
        for s in dropped:
            for f in s["files"]:
                if f["path"] not in live:
                    full = os.path.join(self.path, f["path"])
                    if os.path.exists(full):
                        os.remove(full)
                        deleted.append(f["path"])
            os.remove(self._snap_path(s["snapshot_id"]))
        # prune now-empty commit dirs
        if os.path.isdir(self.data_dir):
            for d in os.listdir(self.data_dir):
                full = os.path.join(self.data_dir, d)
                if os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)
        return deleted
