"""Incremental materialized tiers: equivalence with a full rebuild across
appends (including mid-conversation appends via conv-state anchors),
slice-local refresh (untouched tier files reused by reference), kill-resume
reconciliation, idempotent refresh, lineage, per-tier retention, day-granular
tier files, scan-free refreshes under an explicit vocabulary, one shared
increment per source range between real-time reads and refreshes, and the
at-rest format (zstd, no stored ``vmean``) including states written with
``vmean`` stored."""

import os
import random
import sys
import threading

import pytest
from pyspark.sql import functions as F

from tsengine.materialize import (
    COMPONENTS, InjectedFailure, MaterializedTiers, _ranged,
)
from tsengine.operators import rollup as R
from tsengine.sources.snapshots import SnapshotTable


def _turns(spark, conv_ids, t0=1_600_000_000, n=40, gap=30, idx0=0):
    rows = []
    for c in conv_ids:
        for i in range(idx0, idx0 + n):
            rows.append((c, i, "user" if i % 2 else "assistant",
                         f"text {c} {i}", "bash" if i % 5 == 0 else None,
                         t0 + i * gap + (hash(c) % 97)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, e long"
    )
    return df.select("conv_id", "turn_idx", "role", "text", "tool",
                     F.timestamp_seconds("e").alias("ts"))


def _norm(df):
    return df.selectExpr(
        "conv_id", "tier", "bucket", "cnt", "cnt_lat", "vmin", "vmax", "vsum",
        "vmean", "map_entries(role_dist) as rd", "map_entries(tool_dist) as td")


def _assert_tiers_equal(mat, spark, full_turns, msg=""):
    full = R.build_all_tiers(R.with_latency(full_turns.drop("text")))
    for t in R.TIER_ORDER:
        a, b = _norm(mat.read_tier(spark, t)), _norm(full[t])
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, f"{t} {msg}"


@pytest.fixture()
def src_mat(spark, tmp_path):
    src = SnapshotTable(str(tmp_path / "src"))
    mat = MaterializedTiers(src, str(tmp_path / "mat"))
    return src, mat


def test_incremental_equals_full_rebuild_with_midconv_appends(spark, src_mat):
    """Three appends: new convs, then MID-CONVERSATION continuations (turn
    streams resume with higher turn_idx), then a mix.  After each refresh the
    materialized tiers equal a from-scratch rebuild of everything so far —
    the continuation's first-turn latency must bridge the snapshot boundary
    through the conv state."""
    src, mat = src_mat
    d1 = _turns(spark, ["a", "b", "c"], n=30, gap=45)
    src.append(d1)
    mat.refresh(spark)
    _assert_tiers_equal(mat, spark, d1, "after d1")

    # continuation of a and b: idx0=30, later epochs (t0 shifted)
    d2 = _turns(spark, ["a", "b"], t0=1_600_000_000 + 30 * 45, n=20, gap=45, idx0=30)
    src.append(d2)
    mat.refresh(spark)
    _assert_tiers_equal(mat, spark, d1.unionByName(d2), "after d2")

    # mix: new conv d + continuation of c, two days later
    d3 = _turns(spark, ["d"], t0=1_600_000_000 + 2 * 86400, n=15)
    d3 = d3.unionByName(
        _turns(spark, ["c"], t0=1_600_000_000 + 2 * 86400, n=10, gap=500, idx0=30))
    src.append(d3)
    mat.refresh(spark)
    full = d1.unionByName(d2).unionByName(d3)
    _assert_tiers_equal(mat, spark, full, "after d3")

    # the bridge latency is really there: conv a bucket containing turn 30
    # has cnt_lat counting it (latency = 45s vs last turn of d1)
    # d2's generator: epoch = (t0 + 30*45) + i*gap + off with i starting at 30
    e30 = 1_600_000_000 + 30 * 45 + 30 * 45 + (hash("a") % 97)
    row = (mat.read_tier(spark, "1m")
           .filter((F.col("conv_id") == "a") & (F.col("bucket") == 60 * (e30 // 60)))
           .collect())
    assert row and row[0]["cnt_lat"] == row[0]["cnt"]  # no NULL-latency restart


def test_slice_local_refresh_reuses_untouched_files(spark, src_mat):
    """An append touching only recent buckets must carry old tier files into
    the new snapshot by reference (reused_files > 0 in lineage, old paths
    present in the new manifest)."""
    src, mat = src_mat
    src.append(_turns(spark, ["a", "b"], t0=1_600_000_000, n=50))
    mat.refresh(spark)
    t1m = mat.tiers["1m"]
    old_paths = {f["path"] for f in t1m.snapshot(t1m.current_snapshot_id())["files"]}

    # 10 days later — disjoint buckets
    src.append(_turns(spark, ["z"], t0=1_600_000_000 + 10 * 86400, n=50))
    mat.refresh(spark)
    new_man = t1m.snapshot(t1m.current_snapshot_id())
    new_paths = {f["path"] for f in new_man["files"]}
    assert old_paths <= new_paths  # reused by reference, not rewritten
    lin = [r for r in mat.lineage_rows()
           if r["component"] == "1m" and r["source_from_id"] == 1]
    assert lin and lin[0]["reused_files"] == len(old_paths) > 0
    full = _turns(spark, ["a", "b"], n=50).unionByName(
        _turns(spark, ["z"], t0=1_600_000_000 + 10 * 86400, n=50))
    _assert_tiers_equal(mat, spark, full, "after disjoint append")


def test_kill_resume_reconciles(spark, src_mat):
    """Kill after each possible number of component commits mid-refresh; a
    plain re-run must reconcile to the exact full-rebuild state."""
    src, mat = src_mat
    src.append(_turns(spark, ["a", "b"], n=30))
    mat.refresh(spark)
    src.append(_turns(spark, ["a"], t0=1_600_000_000 + 30 * 30, n=20, idx0=30))
    src.append(_turns(spark, ["c"], t0=1_600_000_000 + 86400, n=20))

    with pytest.raises(InjectedFailure):
        mat.refresh(spark, fail_after=2)  # dies after 1m and 1h commits
    pos = mat.positions()
    assert pos["1m"] == 3 and pos["convstate"] == 1  # mixed positions

    mat.refresh(spark)  # reconcile + finish
    assert set(mat.positions().values()) == {3}
    full = (_turns(spark, ["a", "b"], n=30)
            .unionByName(_turns(spark, ["a"], t0=1_600_000_000 + 30 * 30, n=20, idx0=30))
            .unionByName(_turns(spark, ["c"], t0=1_600_000_000 + 86400, n=20)))
    _assert_tiers_equal(mat, spark, full, "after kill-resume")

    # lineage: per component, the records tile source positions 0 -> head
    # with no gap and no overlap, and account for every appended row once
    lin = mat.lineage_rows()
    for c in ("1m", "1h", "1d", "convstate"):
        steps = sorted((r["source_from_id"], r["source_to_id"], r["input_rows"])
                       for r in lin if r["component"] == c)
        bounds = [0] + [to for _, to, _ in steps]
        assert [fr for fr, _, _ in steps] == bounds[:-1] and bounds[-1] == 3, (c, steps)
        assert sum(n for _, _, n in steps) == 2 * 30 + 20 + 20, (c, steps)


def test_lineage_records_are_fsynced(spark, src_mat, monkeypatch):
    """Each lineage record reaches the disk before it is renamed into place,
    so a crash cannot leave an empty record for lineage_rows() to choke on:
    on the writing thread, the last file operation before the rename of a
    lineage file is an fsync (refresh advances components in threads)."""
    src, mat = src_mat
    src.append(_turns(spark, ["a", "b"], n=20))
    last, synced = {}, []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        last[threading.get_ident()] = "fsync"
        return real_fsync(fd)

    def replace(src_path, dst_path, **kw):
        if os.path.basename(os.path.dirname(dst_path)) == "_lineage":
            synced.append(last.get(threading.get_ident()) == "fsync")
        last[threading.get_ident()] = "replace"
        return real_replace(src_path, dst_path, **kw)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    mat.refresh(spark)
    monkeypatch.undo()
    assert synced == [True] * len(COMPONENTS)
    assert len(mat.lineage_rows()) == len(COMPONENTS)


def test_refresh_idempotent(spark, src_mat):
    src, mat = src_mat
    src.append(_turns(spark, ["a"]))
    mat.refresh(spark)
    sids = {t: tbl.current_snapshot_id() for t, tbl in mat.tiers.items()}
    mat.refresh(spark)  # no new source snapshot -> no-op
    assert sids == {t: tbl.current_snapshot_id() for t, tbl in mat.tiers.items()}


def test_retention_policy(spark, src_mat):
    """Raw expires after 1 day, 1m after 5 days, 1d kept: old raw/1m files
    are physically deleted, the 1d aggregates of the expired window survive,
    and a subsequent append + refresh still works (incremental reads skip
    the pure-delete commit)."""
    src, mat = src_mat
    t0 = 1_600_000_000
    src.append(_turns(spark, ["old"], t0=t0, n=40))
    src.append(_turns(spark, ["new"], t0=t0 + 10 * 86400, n=40))
    mat.refresh(spark)

    now = t0 + 10 * 86400 + 40 * 30
    res = mat.apply_retention(
        {"raw": 86400, "1m": 5 * 86400, "1h": 30 * 86400, "1d": 365 * 86400},
        now_epoch=now, keep_snapshots=1)
    assert res["raw"] is not None and res["1m"] is not None
    assert src.read(spark).filter(F.col("conv_id") == "old").count() == 0
    assert mat.read_tier(spark, "1m").filter(F.col("conv_id") == "old").count() == 0
    # the coarse tier keeps the expired window's aggregates
    old_1d = mat.read_tier(spark, "1d").filter(F.col("conv_id") == "old").collect()
    assert len(old_1d) == 1 and old_1d[0]["cnt"] == 40
    # positions survive the truncation commits; refresh still incremental
    src.append(_turns(spark, ["new2"], t0=now, n=10))
    mat.refresh(spark)
    assert mat.read_tier(spark, "1d").filter(F.col("conv_id") == "new2").count() == 1


def test_refresh_writes_day_granular_files(spark, tmp_path):
    """A sparse multi-day build writes its tiers as whole-day files — no day
    is ever split across two files, which is what makes day-cutoff retention
    exact.  Also pins the per-component refresh timing breakdown the bench
    publishes."""
    t0 = 1_600_000_000
    # 6 sparse days, a handful of turns each
    days = [_turns(spark, [f"c{d}"], t0=t0 + d * 86400, n=8) for d in range(6)]
    full = days[0]
    for d in days[1:]:
        full = full.unionByName(d)

    src = SnapshotTable(str(tmp_path / "s"))
    mat = MaterializedTiers(src, str(tmp_path / "m"))
    src.append(full)
    mat.refresh(spark)
    assert set(mat.last_refresh_timings) == {"convstate", "1m", "1h", "1d"}

    for t in R.TIER_ORDER:
        man = mat.tiers[t].snapshot(mat.tiers[t].current_snapshot_id())
        # ~one file per day.  The hard contract is that NO DAY is split
        # across two files (range partitioning on the day key: equal keys
        # land in one partition).  Range-boundary sampling may occasionally
        # merge two adjacent sparse days into one file, so assert the
        # day-span disjointness rather than an exact file count.
        spans = sorted(
            (f["min_ts"] // 86400, f["max_ts"] // 86400) for f in man["files"]
        )
        assert 2 <= len(spans) <= 6, (t, spans)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, (t, spans)  # whole days, never straddled
        assert spans[0][0] != spans[-1][1]  # genuinely multi-file span


def test_explicit_vocab_reads_and_refreshes_scan_free(spark, src_mat, tmp_path,
                                                       monkeypatch):
    """With the role/tool vocabulary given up front (as bench.py and the
    snapshot queries do), refreshes and reads plan no distinct pre-scan job:
    zero ``rollup._vocab`` calls across two refreshes, a real-time read with
    a pending tail and a resampled read.  Without a vocabulary, the same
    refresh does scan."""
    calls = {"n": 0}
    real_vocab = R._vocab

    def counting_vocab(df, col, max_size=256):
        calls["n"] += 1
        return real_vocab(df, col, max_size)

    monkeypatch.setattr(R, "_vocab", counting_vocab)

    src = SnapshotTable(str(tmp_path / "vsrc"))
    mat = MaterializedTiers(src, str(tmp_path / "vmat"),
                            role_vocab=["assistant", "user"], tool_vocab=["bash"])
    d1 = _turns(spark, ["a", "b"], n=30)
    d2 = _turns(spark, ["a"], t0=1_600_000_000 + 30 * 30, n=20, idx0=30)
    d3 = _turns(spark, ["c"], t0=1_600_000_000 + 86400, n=20)
    src.append(d1)
    mat.refresh(spark)
    src.append(d2)
    mat.refresh(spark)
    src.append(d3)  # pending tail for the real-time read
    rt = mat.read_realtime(spark, "1h").collect()
    rs = mat.read_resampled(spark, 21600).collect()
    assert calls["n"] == 0
    assert rt and rs

    # the counter does see scans: a vocab-less store pays two per refresh
    src0, mat0 = src_mat
    src0.append(d1)
    mat0.refresh(spark)
    assert calls["n"] == 2

    # a complete explicit vocab gives the same tiers as detection
    _assert_tiers_equal(mat, spark, d1.unionByName(d2), "explicit vocab")


def test_read_realtime_matches_full_rebuild(spark, src_mat):
    """Real-time continuous aggregate: materialized half + un-refreshed
    source tail (mid-conversation continuations AND a brand-new conv) must
    equal a from-scratch rebuild of everything committed, at every tier,
    without advancing any component position."""
    src, mat = src_mat
    d1 = _turns(spark, ["a", "b"], n=30, gap=45)
    src.append(d1)
    mat.refresh(spark)
    d2 = _turns(spark, ["a", "b"], n=30, gap=45, idx0=30)  # continuations
    d3 = _turns(spark, ["new"], n=10)
    src.append(d2.unionByName(d3))  # committed, NOT refreshed

    pos_before = mat.positions()
    full = R.build_all_tiers(
        R.with_latency(d1.unionByName(d2).unionByName(d3).drop("text")))
    for t in R.TIER_ORDER:
        a, b = _norm(mat.read_realtime(spark, t)), _norm(full[t])
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t
    assert mat.positions() == pos_before  # read-only

    # once refreshed, realtime degenerates to the plain tier read
    mat.refresh(spark)
    for t in R.TIER_ORDER:
        a, b = _norm(mat.read_realtime(spark, t)), _norm(mat.read_tier(spark, t))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t


def _cycle_slices(spark):
    """Four appends: new convs, mid-conversation continuations, a mix a
    day later, then continuations of an old and a recent conv."""
    t0 = 1_600_000_000
    return [
        _turns(spark, ["a", "b", "c"], n=30, gap=45),
        _turns(spark, ["a", "b"], t0=t0 + 30 * 45, n=20, gap=45, idx0=30),
        _turns(spark, ["c"], t0=t0 + 86400, n=10, gap=500, idx0=30)
        .unionByName(_turns(spark, ["d"], t0=t0 + 86400, n=15)),
        _turns(spark, ["a", "d"], t0=t0 + 2 * 86400, n=12, idx0=50),
    ]


def _lineage_key(mat):
    return sorted((r["component"], r["source_from_id"], r["source_to_id"],
                   r["input_rows"]) for r in mat.lineage_rows())


def test_realtime_read_before_refresh_is_transparent(spark, tmp_path):
    """Differential: append -> read_realtime -> refresh leaves exactly the
    tier rows and lineage input rows of append -> refresh, over four cycles
    with mid-conversation appends (the first read is over empty tiers), so
    an increment the read built and the refresh reused is indistinguishable
    from one the refresh built itself."""
    stores = {}
    for with_read in (False, True):
        src = SnapshotTable(str(tmp_path / f"src{with_read}"))
        mat = MaterializedTiers(src, str(tmp_path / f"mat{with_read}"))
        for i, d in enumerate(_cycle_slices(spark)):
            src.append(d)
            if with_read:
                assert mat.read_realtime(spark, R.TIER_ORDER[i % 3]).collect()
            mat.refresh(spark)
        stores[with_read] = mat
    plain, shared = stores[False], stores[True]
    for t in R.TIER_ORDER:
        a, b = _norm(shared.read_tier(spark, t)), _norm(plain.read_tier(spark, t))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t
    assert _lineage_key(shared) == _lineage_key(plain)


def test_refresh_after_realtime_read_reuses_increment(spark, src_mat,
                                                     monkeypatch):
    """On a vocab-less store, a refresh right after a real-time read at the
    same source head makes no ``rollup._vocab`` and no
    ``SnapshotTable.incremental`` call: the read built and persisted the
    increment.  A refresh with no read before it makes one incremental
    read and two vocabulary scans, from empty and mid-conversation alike."""
    calls = {"vocab": 0, "incremental": 0}
    real_vocab, real_inc = R._vocab, SnapshotTable.incremental

    def counting_vocab(df, col, max_size=256):
        calls["vocab"] += 1
        return real_vocab(df, col, max_size)

    def counting_inc(self, spark, from_id, to_id=None):
        calls["incremental"] += 1
        return real_inc(self, spark, from_id, to_id)

    monkeypatch.setattr(R, "_vocab", counting_vocab)
    monkeypatch.setattr(SnapshotTable, "incremental", counting_inc)
    src, mat = src_mat
    d1, d2, d3 = _cycle_slices(spark)[:3]
    src.append(d1)
    mat.refresh(spark)
    assert calls == {"vocab": 2, "incremental": 1}

    src.append(d2)
    assert mat.read_realtime(spark, "1h").collect()
    assert calls == {"vocab": 4, "incremental": 2}
    mat.refresh(spark)
    assert calls == {"vocab": 4, "incremental": 2}

    src.append(d3)
    mat.refresh(spark)
    assert calls == {"vocab": 6, "incremental": 3}


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_held_increment_released(spark, src_mat):
    """The read-built increment stays cached until the refresh that uses it
    releases it; a read over a new range releases the previous one."""
    src, mat = src_mat
    d1, d2, d3 = _cycle_slices(spark)[:3]
    src.append(d1)
    mat.refresh(spark)
    before = _persisted(spark)

    src.append(d2)
    mat.read_realtime(spark, "1h").collect()
    held = _persisted(spark)
    assert held == before + 2  # latency plane + 1m rollup
    src.append(d3)  # the next read's range (1, 3] replaces (1, 2]
    mat.read_realtime(spark, "1d").collect()
    assert _persisted(spark) == held
    mat.refresh(spark)
    assert _persisted(spark) == before


def test_increment_handover_under_concurrent_callers(spark, tmp_path):
    """Twelve threads on four cores ask for three source ranges at random,
    with a tiny switch interval: every frame handed out is the held one or
    was released, so after a final release nothing stays persisted (a lost
    update of the held range would leak a persisted frame).  An explicit
    vocabulary keeps building the increment job-free."""
    src = SnapshotTable(str(tmp_path / "csrc"))
    mat = MaterializedTiers(src, str(tmp_path / "cmat"),
                            role_vocab=["assistant", "user"], tool_vocab=["bash"])
    for d in _cycle_slices(spark)[:3]:
        src.append(d)
    handed, errors = [], []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for _ in range(4):
                handed.extend(mat._increment(spark, 0, rng.randint(1, 3)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert len(handed) == 12 * 4 * 2
    mat._release_increment()
    leaked = [df for df in handed if df.storageLevel.useMemory or df.storageLevel.useDisk]
    assert not leaked


def test_kill_resume_with_held_increment(spark, src_mat):
    """A refresh killed while it folds a read-built increment releases it,
    and a plain re-run reconciles to the full-rebuild state with lineage
    that tiles every component's source positions."""
    src, mat = src_mat
    d1, d2, d3 = _cycle_slices(spark)[:3]
    src.append(d1)
    mat.refresh(spark)
    before = _persisted(spark)
    src.append(d2)
    mat.read_realtime(spark, "1m").collect()
    with pytest.raises(InjectedFailure):
        mat.refresh(spark, fail_after=2)  # 1m and 1h land at 2
    assert _persisted(spark) == before
    assert mat.positions() == {"1m": 2, "1h": 2, "1d": 1, "convstate": 1}

    src.append(d3)
    mat.refresh(spark)
    assert set(mat.positions().values()) == {3}
    _assert_tiers_equal(mat, spark, d1.unionByName(d2).unionByName(d3))
    lin = mat.lineage_rows()
    for c in COMPONENTS:
        steps = sorted((r["source_from_id"], r["source_to_id"])
                       for r in lin if r["component"] == c)
        bounds = [0] + [to for _, to in steps]
        assert [fr for fr, _ in steps] == bounds[:-1] and bounds[-1] == 3, (c, steps)


def test_read_realtime_rejects_mixed_positions(spark, src_mat):
    """A killed refresh leaves components at mixed source positions; the
    conv-state anchors are then wrong for the leading tier, so read_realtime
    must refuse instead of silently double-counting boundary latency."""
    src, mat = src_mat
    src.append(_turns(spark, ["a"], n=20))
    mat.refresh(spark)
    src.append(_turns(spark, ["a"], n=20, idx0=20))
    with pytest.raises(InjectedFailure):
        mat.refresh(spark, fail_after=1)  # only the 1m commit lands
    # after the kill: 1m is at source head (its realtime read is a plain
    # tier read — fine), but with ANOTHER append pending, 1m's tail would
    # start at position 2 while conv state still reflects position 1 —
    # its anchors would restart latency mid-conversation, so refuse.
    src.append(_turns(spark, ["a"], n=20, idx0=40))
    with pytest.raises(ValueError, match="conv state"):
        mat.read_realtime(spark, "1m")
    mat.refresh(spark)  # reconciles
    full = (_turns(spark, ["a"], n=20)
            .unionByName(_turns(spark, ["a"], n=20, idx0=20))
            .unionByName(_turns(spark, ["a"], n=20, idx0=40)))
    _assert_tiers_equal(mat, spark, full, "after reconcile")
    mat.read_realtime(spark, "1m")  # now fine


def test_read_resampled_routing_and_values(spark, src_mat):
    """Downsample-on-read: route_tier picks the coarsest divisor tier, the
    reaggregated output matches reaggregating a full rebuild, and
    realtime=True folds a pending source tail first."""
    src, mat = src_mat
    assert MaterializedTiers.route_tier(21600) == "1h"
    assert MaterializedTiers.route_tier(300) == "1m"
    assert MaterializedTiers.route_tier(7 * 86400) == "1d"
    assert MaterializedTiers.route_tier(3600) == "1h"
    with pytest.raises(ValueError, match="no stored tier"):
        MaterializedTiers.route_tier(90)  # not a multiple of any tier width

    d1 = _turns(spark, ["a", "b"], n=200, gap=600)  # ~33h span
    src.append(d1)
    mat.refresh(spark)
    full = R.build_all_tiers(R.with_latency(d1.drop("text")))
    got = _norm(mat.read_resampled(spark, 21600))
    exp = _norm(R.reaggregate(full["1h"], 21600))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    assert got.select("tier").distinct().collect()[0][0] == "21600s"

    # width equal to a stored tier: plain pruned tier read
    got = _norm(mat.read_resampled(spark, 3600))
    exp = _norm(mat.read_tier(spark, "1h"))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # realtime variant sees a committed-but-unrefreshed tail
    d2 = _turns(spark, ["late"], n=10, gap=600)
    src.append(d2)
    full2 = R.build_all_tiers(R.with_latency(d1.unionByName(d2).drop("text")))
    got = _norm(mat.read_resampled(spark, 21600, realtime=True))
    exp = _norm(R.reaggregate(full2["1h"], 21600))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_refresh_conf_scoped_to_engine_session(spark, src_mat, tmp_path):
    """VERDICT r04 task 7: refresh() must never mutate the CALLER session's
    SQL conf — tier writes get INT64 parquet timestamps from the engine's own
    newSession().  Pinned two ways: (1) any conf.set on the caller session
    during refresh trips a tripwire; (2) after refresh, a caller-session
    write still uses the caller's conf (INT96 default), while the tier files
    are INT64 with footer stats."""
    import glob

    import pyarrow.parquet as pq

    src, mat = src_mat
    src.append(_turns(spark, ["a", "b"], n=30))
    key = "spark.sql.parquet.outputTimestampType"
    assert spark.conf.get(key) == "INT96"  # Spark default, untouched by engine

    calls = []
    orig_set = spark.conf.set
    spark.conf.set = lambda k, v: (calls.append(k), orig_set(k, v))
    try:
        # a real-time read over still-empty tiers builds the increment the
        # refresh then appends from empty: it too must be engine-session
        assert mat.read_realtime(spark, "1h").collect()
        mat.refresh(spark)
    finally:
        spark.conf.set = orig_set
    assert key not in calls, "refresh mutated the caller session conf"
    assert spark.conf.get(key) == "INT96"

    # tier files: INT64 timestamps with min/max stats (manifest pruning works)
    tier_files = glob.glob(os.path.join(mat.tiers["1h"].path, "data", "*", "*.parquet"))
    assert tier_files
    pf = pq.ParquetFile(tier_files[0])
    idx = pf.schema_arrow.get_field_index("bucket")
    assert pf.metadata.schema.column(idx).physical_type == "INT64"

    # an unrelated caller-session write after (or between) refreshes keeps
    # the caller's own conf: INT96 physical type
    other = str(tmp_path / "caller_write")
    spark.sql("select timestamp'2024-01-01 00:00:00' as ts").write.parquet(other)
    pf2 = pq.ParquetFile(glob.glob(other + "/*.parquet")[0])
    assert pf2.metadata.schema.column(0).physical_type == "INT96"


def test_tier_block_store_roundtrip_and_pruning(spark, src_mat):
    """Gorilla block-column tier storage (VERDICT r04 task 4): freezing a
    tier re-encodes its numeric plane as per-(conv, day) block rows, and
    read_tier_compressed decodes IN-PLAN to exactly the row store's values;
    day-bounded reads stay equal under manifest pruning; a stale block
    store (tier advanced after freeze) is rejected."""
    src, mat = src_mat
    d1 = _turns(spark, ["a", "b", "c"], n=400, gap=700)  # spans several days
    src.append(d1)
    mat.refresh(spark)
    stats = mat.freeze_tier_blocks(spark, "1h")
    assert stats["points"] > 0 and stats["bytes"] > 0

    cols = ["conv_id", "tier", "bucket", "cnt", "cnt_lat",
            "vmin", "vmax", "vsum", "vmean"]
    exp = mat.read_tier(spark, "1h").select(*cols)
    got = mat.read_tier_compressed(spark, "1h")
    assert got.columns == cols
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # bounded read: equal to the row store under the same bounds
    lo = 1_600_000_000 + 86400
    hi = lo + 2 * 86400 - 1
    exp_b = mat.read_tier(spark, "1h", lo=lo, hi=hi).select(*cols)
    got_b = mat.read_tier_compressed(spark, "1h", lo=lo, hi=hi)
    assert got_b.exceptAll(exp_b).count() == 0 and exp_b.exceptAll(got_b).count() == 0

    # staleness contract: advancing the tier invalidates the frozen blocks
    src.append(_turns(spark, ["later"], n=20, idx0=0))
    mat.refresh(spark)
    with pytest.raises(ValueError, match="freeze_tier_blocks"):
        mat.read_tier_compressed(spark, "1h")
    # explicit opt-in still reads the frozen snapshot
    assert mat.read_tier_compressed(spark, "1h", allow_stale=True).count() > 0
    # re-freeze reconciles
    mat.freeze_tier_blocks(spark, "1h")
    exp2 = mat.read_tier(spark, "1h").select(*cols)
    got2 = mat.read_tier_compressed(spark, "1h")
    assert got2.exceptAll(exp2).count() == 0 and exp2.exceptAll(got2).count() == 0


def _footers(root):
    """{path: (column paths, column-chunk codecs)} of every parquet file
    under ``root``, read from the footers."""
    import glob

    import pyarrow.parquet as pq

    out = {}
    for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        meta = pq.ParquetFile(f).metadata
        cols = {meta.schema.column(i).path for i in range(meta.num_columns)}
        codecs = {meta.row_group(g).column(i).compression
                  for g in range(meta.num_row_groups)
                  for i in range(meta.num_columns)}
        out[f] = (cols, codecs)
    return out


def test_at_rest_format_zstd_and_no_stored_mean(spark, src_mat):
    """Every engine table file (source, tiers, conv state, tier blocks) is
    zstd-compressed, and each tier value is stored once: no tier file
    holds ``vmean`` and no block file holds its stream — the read paths
    still return it."""
    src, mat = src_mat
    src.append(_turns(spark, ["a", "b"], n=200, gap=700))
    mat.refresh(spark)
    src.append(_turns(spark, ["a"], t0=1_600_000_000 + 200 * 700, n=20,
                      gap=700, idx0=200))
    mat.refresh(spark)  # a replace_files commit next to the first append
    mat.freeze_tier_blocks(spark, "1h")

    tables = {"source": src.path, "convstate": mat.convstate.path,
              "blocks": mat.block_table("1h").path}
    tables.update({t: mat.tiers[t].path for t in R.TIER_ORDER})
    for name, root in tables.items():
        files = _footers(root)
        assert files, name
        for f, (cols, codecs) in files.items():
            assert codecs == {"ZSTD"}, (name, f, codecs)
            if name in R.TIER_ORDER:
                assert "vmean" not in cols, (name, f)
            if name == "blocks":
                assert not {"first_vmean", "blk_vmean"} & cols, (name, f)
                assert "blk_vsum" in cols, (name, f)
    for t in R.TIER_ORDER:
        assert mat.read_tier(spark, t).columns == list(R.TIER_COLS)
    assert "vmean" in mat.read_tier_compressed(spark, "1h").columns


def test_tier_state_with_stored_mean_reads_and_refreshes(spark, src_mat):
    """A tier state written with ``vmean`` stored (the earlier at-rest
    format) reads, reads in real time and refreshes to the same rows as a
    fresh build; after the refresh the tier mixes files of both formats."""
    import pyarrow.parquet as pq

    src, mat = src_mat
    d1 = _turns(spark, ["a", "b", "c"], n=300, gap=700)  # about 2.4 days
    src.append(d1)
    mat.refresh(spark)
    for t in R.TIER_ORDER:
        tbl = mat.tiers[t]
        stored = mat.read_tier(spark, t)
        assert "vmean" in stored.columns
        tbl.overwrite(_ranged(stored, 4), properties=tbl.properties())
        man = tbl.snapshot(tbl.current_snapshot_id())
        assert all("vmean" in pq.ParquetFile(os.path.join(tbl.path, f["path"]))
                   .schema_arrow.names for f in man["files"]), t
    _assert_tiers_equal(mat, spark, d1, "stored vmean")

    # a continuation on the last day only: earlier day files are reused
    d2 = _turns(spark, ["c"], t0=1_600_000_000 + 300 * 700, n=20, gap=60,
                idx0=300)
    src.append(d2)
    full = R.build_all_tiers(R.with_latency(d1.unionByName(d2).drop("text")))
    for t in R.TIER_ORDER:
        a, b = _norm(mat.read_realtime(spark, t)), _norm(full[t])
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, t
    mat.refresh(spark)
    _assert_tiers_equal(mat, spark, d1.unionByName(d2), "mixed formats")
    tbl = mat.tiers["1m"]
    man = tbl.snapshot(tbl.current_snapshot_id())
    has_mean = {"vmean" in pq.ParquetFile(os.path.join(tbl.path, f["path"]))
                .schema_arrow.names for f in man["files"]}
    assert has_mean == {True, False}
