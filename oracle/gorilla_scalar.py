"""Scalar Gorilla codec: one series per call, one block per series.

The engine encodes and decodes many series per Arrow batch with the
timestamp and value passes of :mod:`tsengine.compress`
(``encode_ts_batch``/``encode_values_batch``,
``decode_ts_batch``/``decode_values_batch``).  This module keeps the
per-series codec those were generalized from, as their byte-for-byte test
oracle (``tests/test_compress.py``, ``tests/test_property.py``).  The wire
format (delta-of-delta timestamps, XOR values) is described in
:mod:`tsengine.compress`.
"""

from __future__ import annotations

import numpy as np

from tsengine.compress import _U64, _clz64, _ctz64, encode_ts_batch, encode_values_batch


# ------------------------------------------------------------------ bit helpers
def _pack_codes(codes: np.ndarray, lengths: np.ndarray) -> bytes:
    """Scatter (code, bitlength<=64) pairs into a packed big-endian bitstream.

    Byte-splice strategy: each code is positioned inside a 9-byte window
    starting at its start byte (64 bits + up to 7 bits of misalignment spans
    at most 9 bytes), split into 9 per-column byte planes, and accumulated
    with ``np.bincount``.  Bits of distinct codes never overlap, so within a
    byte the contributions are disjoint and OR == ADD — bincount (a fast C
    histogram) is a valid bitwise-OR scatter.  Memory traffic is a few tens
    of bytes per code instead of ~50 bytes per BIT for the previous
    repeat/arange explosion — the difference between a memory-bandwidth-bound
    kernel (stops scaling past ~8 workers on one socket) and a compute-bound
    one.
    """
    total = int(lengths.sum())
    if total == 0:
        return b""
    nbytes = (total + 7) // 8
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    bytestart = (starts >> 3).astype(np.int64)
    bitoff = (starts & 7).astype(np.int64)
    # shift of the code's LSB inside the 72-bit window anchored at bytestart
    sh = 72 - bitoff - lengths  # in [1, 71]
    codes = codes.astype(np.uint64)
    ge8 = sh >= 8
    sh_hi = np.where(ge8, sh - 8, 0).astype(np.uint64)     # code << (sh-8)
    sh_lo = np.where(ge8, 0, 8 - sh).astype(np.uint64)     # code >> (8-sh)
    hi64 = np.where(ge8, codes << sh_hi, codes >> sh_lo)   # top 8 window bytes
    # mask the shift into [0,63]: np.where evaluates BOTH branches, and a
    # uint64 shift by >=64 (sh reaches 71 on ge8 lanes) is platform-defined
    lob = np.where(ge8, np.uint64(0), codes << (sh.astype(np.uint64) & np.uint64(63)))
    lob = (lob & np.uint64(0xFF)).astype(np.uint8)          # 9th window byte

    # 9 byte planes: big-endian bytes of hi64, then lob; one bincount scatter
    planes = np.concatenate(
        [hi64.reshape(-1, 1).view(np.uint8)[:, ::-1], lob.reshape(-1, 1)], axis=1
    )  # (n, 9)
    idx = bytestart.reshape(-1, 1) + np.arange(9, dtype=np.int64)
    flat_v = planes.reshape(-1)
    nz = flat_v != 0
    buf = np.bincount(
        idx.reshape(-1)[nz], weights=flat_v[nz].astype(np.float64),
        minlength=nbytes + 9,
    )
    return buf[:nbytes].astype(np.uint8).tobytes()


class _BitReader:
    """Accumulator-based reader: O(1) small-int ops per take()."""

    __slots__ = ("data", "acc", "nbits", "bytepos")

    def __init__(self, data: bytes):
        self.data = data
        self.acc = 0
        self.nbits = 0
        self.bytepos = 0

    def take(self, n: int) -> int:
        acc, nbits, pos, d = self.acc, self.nbits, self.bytepos, self.data
        while nbits < n:
            acc = (acc << 8) | d[pos]
            pos += 1
            nbits += 8
        nbits -= n
        v = acc >> nbits
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits
        self.bytepos = pos
        return v


# ------------------------------------------------------------------ timestamps
def encode_timestamps(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 epochs (sorted).  Excludes the header
    (first_ts, n) which the caller stores in the block struct."""
    ts = np.asarray(ts, dtype=np.int64)
    if len(ts) <= 1:
        return b""
    deltas = np.diff(ts)
    # implicit previous delta 0 at block start: the first delta is encoded
    # through the same bucket coder as every later delta-of-delta
    dod = np.concatenate(([deltas[0]], np.diff(deltas)))  # len n-1

    codes_list = []
    lens_list = []

    if len(dod):
        zero = dod == 0
        b7 = (~zero) & (dod >= -63) & (dod <= 64)
        b9 = (~zero) & (~b7) & (dod >= -255) & (dod <= 256)
        b12 = (~zero) & (~b7) & (~b9) & (dod >= -2047) & (dod <= 2048)
        b64 = ~(zero | b7 | b9 | b12)

        codes = np.zeros(len(dod), dtype=_U64)
        lens = np.zeros(len(dod), dtype=np.int64)
        codes[zero] = 0
        lens[zero] = 1
        codes[b7] = (_U64(0b10) << _U64(7)) | (dod[b7] + 63).astype(_U64)
        lens[b7] = 9
        codes[b9] = (_U64(0b110) << _U64(9)) | (dod[b9] + 255).astype(_U64)
        lens[b9] = 12
        codes[b12] = (_U64(0b1110) << _U64(12)) | (dod[b12] + 2047).astype(_U64)
        lens[b12] = 16
        # 64-bit escape needs 68 bits > 64: emit as two codes (prefix, payload)
        if b64.any():
            # interleave: build combined arrays with extra entries
            idx = np.where(b64)[0]
            codes[b64] = _U64(0b1111)
            lens[b64] = 4
            payload = dod[b64].astype(np.int64).view(np.uint64)
            # splice payload codes right after their prefixes
            order = np.argsort(
                np.concatenate([np.arange(len(dod)) * 2, idx * 2 + 1]), kind="stable"
            )
            codes = np.concatenate([codes, payload])[order]
            lens = np.concatenate([lens, np.full(len(idx), 64, dtype=np.int64)])[order]
        codes_list.append(codes)
        lens_list.append(lens)

    return _pack_codes(np.concatenate(codes_list), np.concatenate(lens_list))


def decode_timestamps(data: bytes, first_ts: int, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    out[0] = first_ts
    if n == 1:
        return out
    r = _BitReader(data)
    delta = 0  # implicit previous delta at block start
    for i in range(1, n):
        if r.take(1) == 0:
            dod = 0
        elif r.take(1) == 0:
            dod = r.take(7) - 63
        elif r.take(1) == 0:
            dod = r.take(9) - 255
        elif r.take(1) == 0:
            dod = r.take(12) - 2047
        else:
            dod = r.take(64)
            if dod >= 1 << 63:
                dod -= 1 << 64
        delta += dod
        out[i] = out[i - 1] + delta
    return out


# ------------------------------------------------------------------ values
def encode_values(vals: np.ndarray) -> bytes:
    """Gorilla XOR-encode float64 values (first value in the header).

    Fully VECTORIZED encoder: each non-zero xor is emitted as the paper's
    '11' form — a 14-bit header ('11' + 6b leading + 6b length) plus an
    mbits payload — as two <=64-bit codes spliced per element, packed with
    the same cumsum scatter as the timestamps.  (The paper's '10'
    previous-window-reuse form is an encoder OPTION with a sequential
    dependency; the decoder below handles both, and always-'11' keeps the
    encoder loop-free.  Cost: <=12 extra bits per changed value.)
    """
    v = np.asarray(vals, dtype=np.float64).view(np.uint64)
    if len(v) <= 1:
        return b""
    xor = v[1:] ^ v[:-1]
    n = len(xor)

    lz = np.minimum(_clz64(xor), 31)
    tz = _ctz64(xor)
    zero = xor == 0
    nz = ~zero

    mbits = np.where(nz, 64 - lz - tz, 0)
    # per-element primary code: '0' for zero-xor, else the 14-bit header
    header = (_U64(0b11) << _U64(12)) | (lz.astype(_U64) << _U64(6)) | (
        (mbits & 63).astype(_U64)
    )
    codes = np.where(zero, _U64(0), header.astype(np.uint64))
    lens = np.where(zero, 1, 14).astype(np.int64)

    if nz.any():
        idx = np.where(nz)[0]
        payload = (xor[nz] >> tz[nz].astype(_U64)).astype(_U64)
        plens = mbits[nz].astype(np.int64)
        order = np.argsort(
            np.concatenate([np.arange(n) * 2, idx * 2 + 1]), kind="stable"
        )
        codes = np.concatenate([codes, payload])[order]
        lens = np.concatenate([lens, plens])[order]

    return _pack_codes(codes, lens)


def decode_values(data: bytes, first_val: float, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.float64)
    out[0] = first_val
    if n == 1:
        return out
    r = _BitReader(data)
    prev = int(np.array([first_val], dtype=np.float64).view(np.uint64)[0])
    l, t = 0, 0
    for i in range(1, n):
        if r.take(1) == 0:
            cur = prev
        else:
            if r.take(1) == 0:
                mbits = 64 - l - t
                frag = r.take(mbits)
            else:
                l = r.take(6)
                mbits = r.take(6)
                if mbits == 0:
                    mbits = 64
                t = 64 - l - mbits
                frag = r.take(mbits)
            cur = prev ^ (frag << t)
        out[i] = np.array([cur], dtype=np.uint64).view(np.float64)[0]
        prev = cur
    return out


# ------------------------------------------------------------------ blocks
def encode_block(ts: np.ndarray, vals: np.ndarray) -> dict:
    """Single-series block encode — thin wrapper over the batch encoders."""
    bounds = np.array([0, len(ts)])
    ft, tb = encode_ts_batch(ts, bounds)
    fv, vb = encode_values_batch(vals, bounds)
    return {
        "n": len(ts),
        "first_ts": int(ft[0]),
        "first_val": float(fv[0]),
        "ts_block": tb[0],
        "val_block": vb[0],
    }


def decode_block(block: dict) -> tuple[np.ndarray, np.ndarray]:
    n = block["n"]
    return (
        decode_timestamps(block["ts_block"], block["first_ts"], n),
        decode_values(block["val_block"], block["first_val"], n),
    )
