"""Skew (salted two-phase rollup == direct rollup) and streaming tier tests."""

import os

import pytest
from pyspark.sql import functions as F

from tsengine import skew
from tsengine.operators import rollup as R
from tsengine.synth import transcripts, write_transcripts


def test_salted_rollup_equals_direct(spark):
    t = transcripts(spark, n_conv=15, base_turns=30, hot_factor=20)
    turns = R.with_latency(t)
    direct = R.rollup_raw_to_tier(turns, "1m").select(
        "conv_id", "bucket", "cnt", "cnt_lat", "vmin", "vmax", "vsum", "vmean"
    )
    salted = skew.salted_rollup(turns, width=60, buckets=8)
    d = {tuple(r[:2]): tuple(r[2:]) for r in direct.collect()}
    s = {tuple(r[:2]): tuple(r[2:]) for r in salted.select(
        "conv_id", "bucket", "cnt", "cnt_lat", "vmin", "vmax", "vsum", "vmean").collect()}
    assert d == s


def test_hot_keys_detects_skew(spark):
    t = transcripts(spark, n_conv=30, base_turns=30, hot_factor=50)
    hot = {r["conv_id"] for r in skew.hot_keys(t).collect()}
    assert "conv_00000000" in hot  # i % 97 == 0 -> hot
    assert len(hot) <= 3


def test_stream_ingest_to_snapshot_exactly_once(spark, tmp_path):
    """foreachBatch -> SnapshotTable ingestion: one snapshot per micro-batch
    with stream_batch_id in properties, tiers maintained incrementally with
    cross-batch latency continuity, restart processes only new files, and a
    replayed delivery (fresh checkpoint over the same files) commits
    NOTHING — the snapshot commit is the idempotence boundary."""
    import pandas as pd

    from tsengine.materialize import MaterializedTiers
    from tsengine.operators import rollup as R
    from tsengine.sources.snapshots import SnapshotTable
    from tsengine.streaming import continuous as S

    t0 = 1_700_000_000
    src_dir = tmp_path / "in"
    src_dir.mkdir()

    def batch_pdf(lo, hi):
        rows = []
        for c in ("a", "b"):
            off = hash(c) % 50
            for i in range(lo, hi):
                rows.append((c, i, "user" if i % 2 else "assistant",
                             f"t{c}{i}", None,
                             pd.Timestamp(t0 + off + i * 40, unit="s", tz="UTC")))
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                          "text", "tool", "ts"])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["tool"] = pdf["tool"].astype("string")  # not null-typed parquet
        return pdf

    def write_batch(n, lo, hi):
        p = src_dir / f"b{n}.parquet"
        # micros, not pandas-default nanos: Spark's vectorized reader maps
        # INT64 timestamp(NANOS) to long, which breaks the declared schema
        batch_pdf(lo, hi).to_parquet(p, index=False, coerce_timestamps="us")
        os.utime(p, (1_000_000 + n, 1_000_000 + n))  # enforce source order

    for n, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30)]):
        write_batch(n, lo, hi)

    tbl = SnapshotTable(str(tmp_path / "tbl"), ts_col="ts")
    mat = MaterializedTiers(tbl, str(tmp_path / "tiers"))
    ckpt = str(tmp_path / "ckpt")
    S.stream_ingest_to_snapshot(spark, str(src_dir), tbl, ckpt,
                                mat=mat, max_files_per_trigger=1)

    assert tbl.current_snapshot_id() == 3
    assert [s["properties"]["stream_batch_id"] for s in tbl.snapshots()] == [0, 1, 2]
    assert tbl.read(spark).count() == 60

    def tier_numeric(df):
        return sorted(
            (r["conv_id"], r["bucket"], r["cnt"], r["cnt_lat"],
             r["vmin"], r["vmax"], r["vsum"])
            for r in df.collect()
        )

    full = spark.createDataFrame(batch_pdf(0, 30))
    for t in ("1m", "1h"):
        exp = R.rollup_raw_to_tier(R.with_latency(full), t)
        assert tier_numeric(mat.read_tier(spark, t)) == tier_numeric(exp), t
    # cross-batch latency continuity: only the 2 first-turns lack latency
    agg = mat.read_tier(spark, "1d").agg(
        F.sum("cnt").alias("c"), F.sum("cnt_lat").alias("cl")).collect()[0]
    assert (agg["c"], agg["cl"]) == (60, 58)

    # restart with one new file: only the new batch lands
    write_batch(3, 30, 35)
    S.stream_ingest_to_snapshot(spark, str(src_dir), tbl, ckpt,
                                mat=mat, max_files_per_trigger=1)
    assert tbl.current_snapshot_id() == 4
    assert S.last_stream_batch_id(tbl) == 3
    assert tbl.read(spark).count() == 70

    # replayed delivery: a FRESH checkpoint re-offers every file with batch
    # ids from 0 — all <= the last committed id, so nothing commits
    S.stream_ingest_to_snapshot(spark, str(src_dir), tbl,
                                str(tmp_path / "ckpt2"),
                                mat=mat, max_files_per_trigger=1)
    assert tbl.current_snapshot_id() == 4
    assert tbl.read(spark).count() == 70


def test_streaming_hopping_window_matches_batch(spark, tmp_path):
    """hopping_rollup's window() shape under Structured Streaming: a file
    stream with a watermark over 1h-by-15m sliding windows, append mode;
    emitted (closed) windows must equal the batch operator restricted to
    the same watermark cutoff."""
    from datetime import timezone

    src = str(tmp_path / "transcripts")
    write_transcripts(spark, src, n_conv=6, base_turns=30, hot_factor=2)
    out = str(tmp_path / "hop_out")
    ckpt = str(tmp_path / "hop_ckpt")

    raw_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(raw_schema).parquet(src)
        .select(F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "3600 seconds", "900 seconds").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("long").alias("w_start"), "n")
    )
    (stream.writeStream.format("parquet").option("path", out)
     .option("checkpointLocation", ckpt).outputMode("append")
     .trigger(availableNow=True).start().awaitTermination())

    got = {(r["w_start"], r["n"]) for r in spark.read.parquet(out).collect()}

    from tsengine.operators.eventops import hopping_rollup

    raw = spark.read.parquet(src).select(
        F.col("ts").cast("timestamp").cast("long").alias("ep"),
        F.lit(1.0).alias("value"),
    )
    max_ts = raw.agg(F.max("ep")).collect()[0][0]
    wm = max_ts - 3600  # final watermark; only windows ending <= wm emit
    exp = {
        (r["w_start"], r["n"])
        for r in hopping_rollup(raw, width_sec=3600, slide_sec=900).collect()
        if r["w_start"] + 3600 <= wm
    }
    assert exp and got == exp
