"""Gorilla XOR value compression + delta-of-delta timestamp compression
(BASELINE.json north_rule), implemented from the public Gorilla paper
(Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
Database", VLDB 2015, §4.1-4.2) as pandas/Arrow kernels driven by
``mapInPandas`` over group-sorted Arrow batches — each Python call encodes
or decodes every series of a batch, never per-row Python.  The Spark layer
is :func:`compress_table`/:func:`decompress_table`; a single series is a
one-value-column table.

Timestamp encoding (§4.1): store first_ts in the block header; every
subsequent point as a delta-of-delta D with the paper's variable codes,
extended with a 64-bit escape for arbitrary gaps.  The previous delta is
implicitly 0 at block start, so the FIRST delta is just the first D through
the same coder — no fixed-width header field, meaning a 60 s grid costs 9
bits (not 32) for its first step and a multi-century gap still roundtrips
exactly via the escape (the paper's 14-bit aligned first delta assumes
block-aligned wall-clock windows this engine doesn't impose):

    D == 0                  -> '0'
    -63 <= D <= 64          -> '10'   + 7 bits (value stored as D + 63)
    -255 <= D <= 256        -> '110'  + 9 bits (D + 255)
    -2047 <= D <= 2048      -> '1110' + 12 bits (D + 2047)
    else                    -> '1111' + 64 bits (two's complement)

Value encoding (§4.2): first value raw in the header; each next value XORed
with the previous:

    xor == 0                          -> '0'
    leading/meaningful window reusable -> '10' + meaningful bits
    else                              -> '11' + 6b leading + 6b length
                                              + meaningful bits

Bit packing is numpy-vectorized: per-element (code, bitlength) pairs are
computed columnwise, then scattered into one bit array with cumsum offsets —
no per-element Python in the hot loop for encode.  Decode is inherently
sequential per stream (variable-length prefix codes) and runs lock-step
across every stream of an Arrow batch (:func:`decode_ts_batch`,
:func:`decode_values_batch`).  The one-series-at-a-time codec these batch
kernels generalize is kept as their test oracle in
:mod:`oracle.gorilla_scalar`.
"""

from __future__ import annotations

import numpy as np

# Persisted block wire-format version.  v1 (round 1) stored the first
# timestamp delta in a fixed 32-bit header field; v2 routes it through the
# DoD bucket coder (module docstring).  The layouts are NOT cross-decodable,
# so every block row carries ``fmt`` and the decoder rejects unknown
# versions instead of decoding silently wrong.
BLOCK_FORMAT_VERSION = 2

_U64 = np.uint64


# ------------------------------------------------------------------ bit helpers
def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (0 -> 64)."""
    out = np.full(len(x), 64, dtype=np.int64)
    nz = x != 0
    xf = x[nz]
    # bit_length via successive halving
    bl = np.zeros(len(xf), dtype=np.int64)
    cur = xf.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = cur >= (np.uint64(1) << np.uint64(shift))
        bl[mask] += shift
        cur[mask] >>= np.uint64(shift)
    out[nz] = 63 - bl
    return out


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (0 -> 64)."""
    out = np.full(len(x), 64, dtype=np.int64)
    nz = x != 0
    xf = x[nz]
    iso = xf & (~xf + np.uint64(1))  # lowest set bit
    cz = _clz64(iso)
    out[nz] = 63 - cz[np.arange(len(cz))]
    return out


# ------------------------------------------------------------------ batch API
def _pack_streams(codes, lengths, owner, n_series):
    """Pack (code, bitlen<=64) pairs belonging to ``n_series`` independent
    byte-aligned streams (``owner`` maps each code to its stream; codes are
    in stream order and streams are contiguous) with ONE bincount scatter.
    Returns a list of per-stream bytes.

    This is the batch generalization of the scalar codec's ``_pack_codes``
    (:mod:`oracle.gorilla_scalar`): per-code global bit positions offset
    each stream to its own byte range, so thousands of series in an Arrow
    batch are packed by a single set of numpy passes instead of ~40 numpy
    calls per series.
    """
    if len(codes) == 0:
        return [b""] * n_series
    lengths = lengths.astype(np.int64)
    series_bits = np.bincount(owner, weights=lengths, minlength=n_series).astype(
        np.int64
    )
    series_bytes = (series_bits + 7) >> 3
    byte_off = np.concatenate(([0], np.cumsum(series_bytes)[:-1]))
    total_bytes = int(series_bytes.sum())

    csum = np.concatenate(([0], np.cumsum(lengths)))
    first_code = np.searchsorted(owner, np.arange(n_series), side="left")
    base = csum[first_code]  # bit-cumsum at each stream's first code
    within = csum[:-1] - base[owner]
    starts = byte_off[owner] * 8 + within

    bytestart = (starts >> 3).astype(np.int64)
    bitoff = (starts & 7).astype(np.int64)
    sh = 72 - bitoff - lengths
    codes = codes.astype(np.uint64)
    ge8 = sh >= 8
    sh_hi = np.where(ge8, sh - 8, 0).astype(np.uint64)
    sh_lo = np.where(ge8, 0, 8 - sh).astype(np.uint64)
    hi64 = np.where(ge8, codes << sh_hi, codes >> sh_lo)
    # mask the shift into [0,63]: np.where evaluates BOTH branches, and a
    # uint64 shift by >=64 (sh reaches 71 on ge8 lanes) is platform-defined
    lob = np.where(ge8, np.uint64(0), codes << (sh.astype(np.uint64) & np.uint64(63)))
    lob = (lob & np.uint64(0xFF)).astype(np.uint8)
    planes = np.concatenate(
        [hi64.reshape(-1, 1).view(np.uint8)[:, ::-1], lob.reshape(-1, 1)], axis=1
    )
    idx = bytestart.reshape(-1, 1) + np.arange(9, dtype=np.int64)
    flat_v = planes.reshape(-1)
    nz = flat_v != 0
    buf = np.bincount(
        idx.reshape(-1)[nz], weights=flat_v[nz].astype(np.float64),
        minlength=total_bytes + 9,
    ).astype(np.uint8)
    raw = buf.tobytes()
    return [
        raw[byte_off[s]: byte_off[s] + series_bytes[s]] for s in range(n_series)
    ]


def _splice_payload(codes, lens, keys, esc_idx, payload, plens, owner):
    """Append escape payload codes right after their prefix codes by global
    sort key (position*2 for prefixes, +1 for payloads)."""
    if len(esc_idx) == 0:
        order = np.argsort(keys, kind="stable")
        return codes[order], lens[order], owner[order]
    codes = np.concatenate([codes, payload])
    lens = np.concatenate([lens, plens])
    keys = np.concatenate([keys, keys[esc_idx] + 1])
    owner = np.concatenate([owner, owner[esc_idx]])
    order = np.argsort(keys, kind="stable")
    return codes[order], lens[order], owner[order]


def _series_rows(bounds):
    """(first row, series of each row, intra-series adjacency) for the S
    series ``bounds`` delimits: ``same[j]`` is True when rows j and j+1
    belong to one series, so the delta/XOR between them is coded (on row
    j+1) and cross-series pairs are masked out."""
    bounds = np.asarray(bounds, dtype=np.int64)
    owner = np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))
    return bounds[:-1], owner, owner[1:] == owner[:-1]


def encode_ts_batch(ts: np.ndarray, bounds: np.ndarray):
    """Delta-of-delta encode MANY series at once: ``bounds`` (len S+1)
    delimits contiguous series in ``ts``.  Returns (first_ts, ts_blocks):
    an int64 array and a list of bytes, one per series.  Deltas, dod
    classification and bit packing are each ONE numpy pass over the whole
    batch with series boundaries masked out."""
    ts = np.asarray(ts, dtype=np.int64)
    firsts, owner_i, same_d = _series_rows(bounds)
    d = np.diff(ts)

    # every intra-series delta d[j] becomes one bucket code at row j+1:
    # dod = d[j] - d[j-1] when d[j-1] is in the same series, else d[j] - 0
    # (implicit zero previous delta at each series start)
    j = np.where(same_d)[0]
    prev_ok = (j >= 1) & same_d[np.maximum(j - 1, 0)]
    dod = d[j] - np.where(prev_ok, d[np.maximum(j - 1, 0)], 0)
    zero = dod == 0
    b7 = (~zero) & (dod >= -63) & (dod <= 64)
    b9 = (~zero) & (~b7) & (dod >= -255) & (dod <= 256)
    b12 = (~zero) & (~b7) & (~b9) & (dod >= -2047) & (dod <= 2048)
    b64 = ~(zero | b7 | b9 | b12)
    dcodes = np.zeros(len(dod), dtype=_U64)
    dlens = np.ones(len(dod), dtype=np.int64)
    dcodes[b7] = (_U64(0b10) << _U64(7)) | (dod[b7] + 63).astype(_U64)
    dlens[b7] = 9
    dcodes[b9] = (_U64(0b110) << _U64(9)) | (dod[b9] + 255).astype(_U64)
    dlens[b9] = 12
    dcodes[b12] = (_U64(0b1110) << _U64(12)) | (dod[b12] + 2047).astype(_U64)
    dlens[b12] = 16
    dcodes[b64] = _U64(0b1111)
    dlens[b64] = 4
    codes, lens, owner = _splice_payload(
        dcodes, dlens, (j + 1) * 2, np.where(b64)[0],
        dod[b64].view(np.uint64), np.full(int(b64.sum()), 64, dtype=np.int64),
        owner_i[j],
    )
    return ts[firsts], _pack_streams(codes, lens, owner, len(firsts))


def encode_values_batch(vals: np.ndarray, bounds: np.ndarray):
    """Gorilla XOR encode MANY series at once (same ``bounds`` contract as
    :func:`encode_ts_batch`).  Returns (first_vals, val_blocks): a float64
    array and a list of bytes, one per series."""
    v = np.asarray(vals, dtype=np.float64).view(np.uint64)
    firsts, owner_i, same = _series_rows(bounds)
    k = np.where(same)[0]  # xor index k encodes row k+1
    xor = (v[1:] ^ v[:-1])[k]
    lz = np.minimum(_clz64(xor), 31)
    tz = _ctz64(xor)
    nz = xor != 0
    mbits = np.where(nz, 64 - lz - tz, 0)
    header = (
        (_U64(0b11) << _U64(12))
        | (lz.astype(_U64) << _U64(6))
        | (mbits & 63).astype(_U64)
    )
    codes, lens, owner = _splice_payload(
        np.where(nz, header, _U64(0)), np.where(nz, 14, 1).astype(np.int64),
        (k + 1) * 2, np.where(nz)[0], xor[nz] >> tz[nz].astype(_U64),
        mbits[nz].astype(np.int64), owner_i[k],
    )
    return v[firsts].view(np.float64), _pack_streams(codes, lens, owner, len(firsts))


# ------------------------------------------------------------ batch decoding
def _gather_windows(buf: np.ndarray, bitpos: np.ndarray) -> np.ndarray:
    """Vectorized unaligned bit-window read: for each bit position, load the
    9-byte window covering bits [pos, pos+64+7) and return the 64 bits
    starting at ``pos`` as uint64 (one value per element).  ``buf`` must be
    padded with >=9 trailing zero bytes so end-of-stream reads stay in
    bounds."""
    i = (bitpos >> np.uint64(3)).astype(np.int64)
    o = (bitpos & np.uint64(7)).astype(np.uint64)
    b = buf[i[:, None] + np.arange(9, dtype=np.int64)]  # (k, 9) uint8
    hi = np.ascontiguousarray(b[:, :8]).view(">u8")[:, 0].astype(np.uint64)
    lo = b[:, 8].astype(np.uint64)
    # big-endian 72-bit window shifted so window bit ``o`` becomes the MSB;
    # o=0 degenerates correctly (hi<<0, lo>>8 == 0)
    return (hi << o) | (lo >> (np.uint64(8) - o))


def _take_bits(shifted: np.ndarray, width: np.ndarray) -> np.ndarray:
    """Top ``width`` bits of each shifted window (width in [0, 64]); shift
    counts are masked into range so width==64 and width==0 are both
    defined."""
    w = width.astype(np.uint64)
    out = shifted >> ((np.uint64(64) - w) & np.uint64(63))
    return np.where(w > 0, out, np.uint64(0))


def _concat_streams(blocks: list) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate per-stream byte blocks into one padded uint8 buffer.
    Returns (buf, per-stream starting BIT position)."""
    lens = np.fromiter((len(b) for b in blocks), dtype=np.int64, count=len(blocks))
    byte_off = np.concatenate(([0], np.cumsum(lens)[:-1]))
    buf = np.frombuffer(b"".join(blocks) + b"\x00" * 9, dtype=np.uint8)
    return buf, (byte_off * 8).astype(np.uint64)


def _stream_order(ns):
    """Lock-step decode order: streams sorted longest first, so the streams
    still active at point ``i`` are the prefix ``[:active[i]]`` and
    per-iteration state access is views, not boolean masks.  Returns
    (order, output offset of each ordered stream, active)."""
    ns = np.asarray(ns, dtype=np.int64)
    order = np.argsort(-ns, kind="stable")
    off = np.concatenate(([0], np.cumsum(ns)[:-1]))[order]
    ns_s = ns[order]
    max_n = int(ns_s[0]) if len(ns_s) else 0
    active = np.searchsorted(-ns_s, -np.arange(max_n), side="left")
    return order, off, active


def decode_ts_batch(ns: np.ndarray, first_ts: np.ndarray, ts_blocks: list) -> np.ndarray:
    """Decode MANY timestamp streams at once, lock-step across streams:
    iteration ``i`` decodes point ``i`` of every stream that still has one,
    as a handful of numpy passes (:func:`_gather_windows` reads + mask
    arithmetic).  Python-level iteration count is max(ns), not sum(ns).
    Returns the timestamps concatenated in input stream order (lengths =
    ``ns``)."""
    order, off, active = _stream_order(ns)
    out = np.empty(int(np.sum(ns)), dtype=np.int64)
    if not len(active):
        return out
    buf, pos = _concat_streams([ts_blocks[s] for s in order])
    delta = np.zeros(len(order), dtype=np.int64)
    prev = np.asarray(first_ts, dtype=np.int64)[order]
    out[off[:active[0]]] = prev[:active[0]]
    for i in range(1, len(active)):
        k = active[i]
        win = _gather_windows(buf, pos[:k])
        c4 = (win >> np.uint64(60)).astype(np.int64)  # top 4 control bits
        cls0 = c4 < 8
        cls1 = (c4 >> 2) == 0b10
        cls2 = (c4 >> 1) == 0b110
        cls3 = c4 == 0b1110
        cls4 = c4 == 0b1111
        ctrl = np.select([cls0, cls1, cls2, cls3], [1, 2, 3, 4], default=4)
        plen = np.select([cls0, cls1, cls2, cls3], [0, 7, 9, 12], default=64)
        # small payloads (<=12 bits) come out of the same 64-bit window:
        # drop the control bits, take the top plen bits
        small = _take_bits(win << ctrl.astype(np.uint64), np.where(cls4, 0, plen)).astype(np.int64)
        dod = np.zeros(k, dtype=np.int64)
        dod[cls1] = small[cls1] - 63
        dod[cls2] = small[cls2] - 255
        dod[cls3] = small[cls3] - 2047
        if cls4.any():  # 64-bit escape: second gather just past the prefix
            p4 = pos[:k][cls4] + np.uint64(4)
            dod[cls4] = _gather_windows(buf, p4).view(np.int64)
        delta[:k] += dod
        prev[:k] += delta[:k]
        out[off[:k] + i] = prev[:k]
        pos[:k] += (ctrl + plen).astype(np.uint64)
    return out


def decode_values_batch(ns: np.ndarray, first_vals: np.ndarray, val_blocks: list) -> np.ndarray:
    """Lock-step XOR decode of MANY value streams — the value-side dual of
    :func:`decode_ts_batch`.  Returns float64 values in input stream
    order."""
    order, off, active = _stream_order(ns)
    out = np.empty(int(np.sum(ns)), dtype=np.float64)
    if not len(active):
        return out
    buf, pos = _concat_streams([val_blocks[s] for s in order])
    prevb = np.asarray(first_vals, dtype=np.float64)[order].view(np.uint64)
    lead = np.zeros(len(order), dtype=np.int64)
    trail = np.zeros(len(order), dtype=np.int64)
    out[off[:active[0]]] = prevb[:active[0]].view(np.float64)
    for i in range(1, len(active)):
        k = active[i]
        win = _gather_windows(buf, pos[:k])
        b0 = (win >> np.uint64(63)).astype(np.int64)
        b1 = (win >> np.uint64(62)).astype(np.int64) & 1
        is_same = b0 == 0
        is_reuse = (b0 == 1) & (b1 == 0)  # '10': previous meaningful window
        is_new = (b0 == 1) & (b1 == 1)  # '11': explicit 6b lead + 6b len
        m_old = 64 - lead[:k] - trail[:k]  # width under reuse (OLD state)
        hdr = ((win >> np.uint64(50)) & np.uint64(0xFFF)).astype(np.int64)
        new_l = hdr >> 6
        new_m = hdr & 63
        new_m = np.where(new_m == 0, 64, new_m)
        new_t = 64 - new_l - new_m
        pre = np.select([is_same, is_reuse], [1, 2], default=14)
        pw = np.select([is_same, is_reuse], [0, m_old], default=new_m)
        pay = _take_bits(_gather_windows(buf, pos[:k] + pre.astype(np.uint64)), pw)
        t_eff = np.select([is_reuse], [trail[:k]], default=new_t)
        t_eff = np.where(pw > 0, t_eff, 0).astype(np.uint64)
        cur = np.where(is_same, prevb[:k], prevb[:k] ^ (pay << t_eff))
        out[off[:k] + i] = cur.view(np.float64)
        prevb[:k] = cur
        lead[:k] = np.where(is_new, new_l, lead[:k])
        trail[:k] = np.where(is_new, new_t, trail[:k])
        pos[:k] += (pre + pw).astype(np.uint64)
    return out


# ------------------------------------------------------------------ Spark layer
def _group_types(df, gcols):
    m = dict(df.dtypes)
    return [m[c] for c in gcols]


def compress_table(df, group_cols, epoch_col, value_cols):
    """DataFrame (group, epoch, value columns) -> one compressed block row
    per group: ONE delta-of-delta timestamp stream (``first_ts`` long +
    ``ts_block`` binary) plus a Gorilla XOR stream PER value column
    (``first_<c>`` double + ``blk_<c>`` binary), ``n`` points and the
    ``fmt`` wire version.  A single series is the one-column case
    (``value_cols=("value",)``).  Integer columns are encoded through their
    float64 image (exact to 2^53 — tier counts).

    Scale design: ``repartition(group) + sortWithinPartitions(group, epoch) +
    mapInPandas`` rather than per-group ``applyInPandas`` — each Python call
    processes a whole Arrow batch of MANY series (split on group boundaries
    with numpy, partial trailing series carried into the next batch), so the
    per-call pandas/Arrow overhead is amortized over ~10^4 rows instead of
    being paid once per series.  Repartitioning on the group keys guarantees
    each series is wholly inside one partition, so carry-over never crosses
    a partition boundary."""
    import pandas as pd

    gcols, vcols = list(group_cols), list(value_cols)
    schema_prefix = ", ".join(
        f"{c} {t}" for c, t in zip(gcols, _group_types(df, gcols))
    )
    schema = (
        schema_prefix
        + ", n int, first_ts long, ts_block binary, fmt tinyint, "
        + ", ".join(f"first_{c} double, blk_{c} binary" for c in vcols)
    )
    out_cols = (
        gcols + ["n", "first_ts", "ts_block", "fmt"]
        + [x for c in vcols for x in (f"first_{c}", f"blk_{c}")]
    )

    def encode_span(pdf, bounds):
        """Encode the series delimited by ``bounds`` inside pdf -> one
        output frame; the timestamp stream is encoded once for all value
        columns."""
        ft, tb = encode_ts_batch(pdf[epoch_col].to_numpy(), bounds)
        data = {c: pdf[c].to_numpy()[bounds[:-1]] for c in gcols}
        data.update({
            "n": np.diff(bounds).astype("int32"), "first_ts": ft, "ts_block": tb,
            "fmt": np.full(len(tb), BLOCK_FORMAT_VERSION, dtype="int8"),
        })
        for c in vcols:
            data[f"first_{c}"], data[f"blk_{c}"] = encode_values_batch(
                pdf[c].to_numpy(dtype="float64"), bounds
            )
        return pd.DataFrame(data, columns=out_cols)

    def kernel(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # boundaries where any group column changes
            change = np.zeros(len(pdf) - 1, dtype=bool)
            for c in gcols:
                g = pdf[c].to_numpy()
                change |= g[1:] != g[:-1]
            bounds = np.concatenate(([0], np.where(change)[0] + 1, [len(pdf)]))
            # last run may continue in the next batch — carry it
            carry = pdf.iloc[bounds[-2]:].copy()
            if len(bounds) > 2:
                yield encode_span(pdf, bounds[:-1])
        if carry is not None and len(carry):
            yield encode_span(carry, np.array([0, len(carry)], dtype=np.int64))

    part = df.repartition(*gcols).sortWithinPartitions(*gcols, epoch_col)
    return part.mapInPandas(kernel, schema=schema)


def decompress_table(blocks_df, group_cols, epoch_col, value_cols):
    """Inverse of :func:`compress_table`: block rows -> (group, epoch,
    value columns).

    Blocks are self-contained, so this is ``mapInPandas`` straight over the
    block rows — NO shuffle — and each Arrow batch of blocks is decoded by
    the lock-step :func:`decode_ts_batch` (once) and
    :func:`decode_values_batch` (per column) instead of a per-row,
    per-point Python loop.

    Version gate: blocks must carry ``fmt == BLOCK_FORMAT_VERSION``; a
    missing column is rejected at plan time and a mismatched value per
    batch, so pre-v2 persisted blocks fail loudly instead of decoding to
    wrong timestamps."""
    import pandas as pd

    if "fmt" not in blocks_df.columns:
        raise ValueError(
            "compressed blocks carry no 'fmt' version column — these were "
            "written by a pre-v2 encoder and are not decodable by this "
            f"version (expected fmt={BLOCK_FORMAT_VERSION}); re-encode from raw"
        )
    for col in ["n", "first_ts", "ts_block"]:
        if col not in blocks_df.columns:
            raise ValueError(f"compressed block table missing {col!r} column")
    gcols, vcols = list(group_cols), list(value_cols)
    schema_prefix = ", ".join(
        f"{c} {t}" for c, t in zip(gcols, _group_types(blocks_df, gcols))
    )
    schema = (
        schema_prefix + f", {epoch_col} long, "
        + ", ".join(f"{c} double" for c in vcols)
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            fmts = pdf["fmt"].to_numpy()
            if (fmts != BLOCK_FORMAT_VERSION).any():
                bad = sorted(set(int(x) for x in fmts[fmts != BLOCK_FORMAT_VERSION]))
                raise ValueError(
                    f"unsupported compressed-block format version(s) {bad}; "
                    f"this decoder reads fmt={BLOCK_FORMAT_VERSION} only"
                )
            ns = pdf["n"].to_numpy(dtype=np.int64)
            data = {c: np.repeat(pdf[c].to_numpy(), ns) for c in gcols}
            data[epoch_col] = decode_ts_batch(
                ns, pdf["first_ts"].to_numpy(dtype=np.int64),
                [bytes(b) for b in pdf["ts_block"]],
            )
            for c in vcols:
                data[c] = decode_values_batch(
                    ns, pdf[f"first_{c}"].to_numpy(dtype=np.float64),
                    [bytes(b) for b in pdf[f"blk_{c}"]],
                )
            yield pd.DataFrame(data, columns=gcols + [epoch_col] + vcols)

    return blocks_df.mapInPandas(kernel, schema=schema)
