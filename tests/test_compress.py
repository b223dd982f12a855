"""Compression roundtrip property tests (FIXTURES.md §6): decode(encode(x))
== x exactly — timestamps as int64, values bitwise float64 — over adversarial
vectors and the Spark mapInPandas layer (compress_table/decompress_table)."""

import numpy as np
import pytest

from oracle import gorilla_scalar as G
from tsengine import compress as C

SERIES = dict(group_cols=("series_id",), epoch_col="epoch", value_cols=("value",))


def _roundtrip(ts, vals):
    blk = G.encode_block(np.array(ts, dtype=np.int64), np.array(vals, dtype=np.float64))
    dts, dvals = G.decode_block(blk)
    assert dts.tolist() == list(ts)
    got = np.asarray(dvals, dtype=np.float64).view(np.uint64)
    exp = np.array(vals, dtype=np.float64).view(np.uint64)
    assert got.tolist() == exp.tolist(), "values not bitwise equal"
    return blk


def test_constant_values_xor_zero_path():
    ts = list(range(1000, 1000 + 300 * 50, 300))
    _roundtrip(ts, [42.5] * 50)


def test_regular_timestamps_dod_zero_path():
    ts = list(range(0, 60 * 1000, 60))
    vals = np.linspace(-5, 5, 1000).tolist()
    blk = _roundtrip(ts, vals)
    # regular grid: all dods are 0 -> ts block ~ (32 + (n-2)) bits
    assert len(blk["ts_block"]) <= (32 + 998 + 16) // 8 + 2


def test_irregular_timestamps_and_heavy_tail():
    rng = np.random.RandomState(42)
    gaps = np.ceil(rng.lognormal(3, 1.5, size=500)).astype(np.int64)
    gaps[::50] += 100000  # multi-hour jumps -> 64-bit escape path
    ts = 1398895200 + np.cumsum(gaps)
    vals = rng.standard_cauchy(500) * 1e6  # heavy tail doubles
    _roundtrip(ts.tolist(), vals.tolist())


def test_alternating_sign_and_specials():
    ts = list(range(10, 100, 7))
    vals = [1.0, -1.0, 2.5, -2.5, 0.0, -0.0, 1e-308, 1e308, 3.14, -3.14, 7.0, -7.0, 0.1]
    _roundtrip(ts, vals)


def test_single_and_two_point_blocks():
    _roundtrip([5], [1.25])
    _roundtrip([5, 17], [1.25, -9.5])


def test_negative_dod_buckets():
    # exercise each dod bucket: 0, ±7bit, ±9bit, ±12bit, 64bit
    deltas = [100, 100, 160, 100, 350, 100, 2100, 100, 100000, 100]
    ts = np.cumsum([1000] + deltas).tolist()
    vals = list(np.arange(len(ts), dtype=float))
    _roundtrip(ts, vals)


def test_compression_ratio_on_transcript_like_data():
    rng = np.random.RandomState(7)
    gaps = np.ceil(rng.lognormal(3, 1.2, size=5000)).astype(np.int64)
    ts = 1398895200 + np.cumsum(gaps)
    vals = gaps.astype(np.float64)  # latency plane: small ints as doubles
    blk = G.encode_block(ts, vals)
    raw = 16 * len(ts)
    packed = len(blk["ts_block"]) + len(blk["val_block"]) + 20
    assert packed < raw * 0.7, f"ratio {packed/raw:.2f}"


def test_spark_roundtrip(spark):
    from tsengine.core import from_ts_lists

    rng = np.random.RandomState(3)
    series = []
    for s in range(5):
        gaps = np.ceil(rng.lognormal(3, 1.0, size=200)).astype(np.int64)
        ts = 1398895200 + np.cumsum(gaps)
        vals = rng.normal(size=200) * 100
        series.append(list(zip(ts.tolist(), vals.tolist())))
    df = from_ts_lists(spark, series)
    blocks = C.compress_table(df, **SERIES)
    assert blocks.count() == 5
    back = C.decompress_table(blocks, **SERIES)
    orig = sorted(map(tuple, df.collect()))
    got = sorted(map(tuple, back.select("series_id", "epoch", "value").collect()))
    assert len(orig) == len(got)
    for (s1, e1, v1), (s2, e2, v2) in zip(orig, got):
        assert (s1, e1) == (s2, e2)
        assert np.float64(v1).view(np.uint64) == np.float64(v2).view(np.uint64)


def test_block_table_bytes_match_scalar_across_batches(spark):
    """compress_table's persisted bytes == the scalar codec, per group and
    per value column, with Arrow batches of 7 rows so every multi-batch
    group goes through the kernel's cross-batch carry."""
    rng = np.random.RandomState(11)
    groups = {}
    for g, n in [("a", 1), ("b", 23), ("c", 40), ("d", 9)]:
        ts = 1700000000 + np.cumsum(rng.randint(1, 5000, size=n)).astype(np.int64)
        cnt = rng.randint(0, 4, size=n).astype(np.float64)
        mean = np.where(rng.rand(n) < 0.3, 0.0, rng.standard_normal(n) * 1e3)
        groups[g] = (ts, cnt, mean)
    rows = [
        (g, int(t), float(c), float(m))
        for g, cols in groups.items() for t, c, m in zip(*cols)
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, t long, cnt double, mean double")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        blocks = {
            r["g"]: r
            for r in C.compress_table(
                df, group_cols=("g",), epoch_col="t", value_cols=("cnt", "mean")
            ).collect()
        }
    finally:
        spark.conf.set(key, old)
    assert sorted(blocks) == sorted(groups)
    for g, (ts, cnt, mean) in groups.items():
        b = blocks[g]
        assert b["n"] == len(ts) and b["first_ts"] == ts[0]
        assert bytes(b["ts_block"]) == G.encode_timestamps(ts), g
        for c, vals in (("cnt", cnt), ("mean", mean)):
            assert b[f"first_{c}"] == vals[0]
            assert bytes(b[f"blk_{c}"]) == G.encode_values(vals), (g, c)


def test_block_format_version_gate(spark):
    """Blocks self-describe their wire format (ADVICE r2): the decoder rejects
    unknown versions and version-less (pre-v2) block tables loudly."""
    import pytest
    from pyspark.sql import functions as F

    from tsengine import compress as C
    from tsengine.core import from_ts_lists

    df = from_ts_lists(spark, [[(1398895200 + 60 * i, float(i)) for i in range(10)]])
    blocks = C.compress_table(df, **SERIES)
    assert blocks.select("fmt").distinct().collect()[0][0] == C.BLOCK_FORMAT_VERSION

    # version-less table: rejected at plan time
    with pytest.raises(ValueError, match="no 'fmt' version column"):
        C.decompress_table(blocks.drop("fmt"), **SERIES)

    # wrong version: rejected at execution time with the version named
    stale = blocks.withColumn("fmt", F.lit(1).cast("tinyint"))
    with pytest.raises(Exception, match="format version"):
        C.decompress_table(stale, **SERIES).collect()


def test_batch_encoder_matches_single_series():
    """encode_ts_batch/encode_values_batch over concatenated series ==
    encode_timestamps/encode_values per series, byte for byte."""
    import numpy as np

    from tsengine import compress as C

    rng = np.random.default_rng(7)
    sizes = [1, 2, 3, 450, 17, 1000]
    parts_ts, parts_v = [], []
    for n in sizes:
        parts_ts.append(np.cumsum(rng.integers(1, 5000, size=n)) + 1700000000)
        parts_v.append(np.round(rng.normal(0, 1e6, size=n), 3))
    ts = np.concatenate(parts_ts)
    vals = np.concatenate(parts_v)
    bounds = np.concatenate(([0], np.cumsum(sizes)))
    ft, tb = C.encode_ts_batch(ts, bounds)
    fv, vb = C.encode_values_batch(vals, bounds)
    assert len(tb) == len(vb) == len(sizes)
    for i, n in enumerate(sizes):
        assert ft[i] == parts_ts[i][0]
        assert fv[i] == parts_v[i][0]
        assert tb[i] == G.encode_timestamps(parts_ts[i]), f"ts stream {i}"
        assert vb[i] == G.encode_values(parts_v[i]), f"val stream {i}"
        # and decodes back exactly
        assert np.array_equal(G.decode_timestamps(tb[i], int(ft[i]), n), parts_ts[i])
        assert np.array_equal(G.decode_values(vb[i], float(fv[i]), n), parts_v[i])


def test_batch_decoder_matches_scalar_and_input():
    """Lock-step batch decoder == scalar decoder == original input, across
    grids, jitter, multi-century gaps (64-bit DoD escape — the first delta
    goes through the same bucket coder, no 32-bit header cap), and
    zero/repeat-heavy value planes."""
    rng = np.random.RandomState(7)
    ns_l, ts_l, v_l = [], [], []
    for s in range(120):
        n = int(rng.randint(1, 50))
        kind = s % 4
        if kind == 0:
            ts = np.arange(n, dtype=np.int64) * 60 + 10**9
        elif kind == 1:
            ts = np.cumsum(rng.randint(1, 5000, size=n)).astype(np.int64)
        elif kind == 2:
            ts = np.cumsum(rng.randint(1, 2**40, size=n).astype(np.int64))
        else:
            ts = np.unique(rng.randint(0, 10**10, size=n).astype(np.int64))
            n = len(ts)
        v = np.where(rng.rand(n) < 0.3, 0.0, rng.standard_normal(n) * 10 ** rng.randint(0, 6))
        ns_l.append(n); ts_l.append(ts); v_l.append(v)
    flat_ts, flat_v = np.concatenate(ts_l), np.concatenate(v_l)
    bounds = np.concatenate([[0], np.cumsum(ns_l)])
    ns = np.diff(bounds)
    ft, tb = C.encode_ts_batch(flat_ts, bounds)
    fv, vb = C.encode_values_batch(flat_v, bounds)
    ref_t, ref_v = [], []
    for i in range(len(ns)):
        t, v = G.decode_block(
            {"n": int(ns[i]), "first_ts": int(ft[i]), "first_val": float(fv[i]),
             "ts_block": tb[i], "val_block": vb[i]})
        ref_t.append(t); ref_v.append(v)
    bt = C.decode_ts_batch(ns, ft, tb)
    bv = C.decode_values_batch(ns, fv, vb)
    assert np.array_equal(bt, np.concatenate(ref_t))
    assert np.array_equal(bv.view(np.uint64), np.concatenate(ref_v).view(np.uint64))
    assert np.array_equal(bt, flat_ts)
    assert np.array_equal(bv.view(np.uint64), flat_v.view(np.uint64))
