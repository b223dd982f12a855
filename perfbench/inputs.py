"""Seeded benchmark inputs, generated with numpy and cached as parquet.

Two tables, both a pure function of ``(seed, size)``:

- ``transcripts``: the shape of :mod:`tsengine.synth` (``conv_id, turn_idx,
  role, text, tool, ts``): conversations whose index is a multiple of 97
  are hot and get ``HOT_FACTOR`` x the mean turn count, inter-turn gaps are lognormal
  seconds (median ~20 s) and 1 % of gaps add 1-6 hours; each hot
  conversation's gaps are scaled so it spans ``HOT_SPAN_S``.
- ``events``: the shape and size of the sf0.1 ``events.parquet`` test
  table (``event_id, ts, user_id, event_type, value``; 100 000 events,
  1 500 series) over 30 days of 2024, positive lognormal values, so the
  running sum per user is a cumulative meter.

The transcripts size is an eighth of the 2 000-conversation probe that
sized the workloads (938 570 turns; README.md): ``tsengine.synth``'s
default 150 base turns, 250 conversations, about 123 000 turns.

Generation happens in the benchmark process, before any timed region, and
the files are cached under the work directory keyed by seed and size; only
the KEEP_INPUTS most recently used sets are kept (about 30 MB each).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANCHOR_EPOCH = 1398895200  # 2014-05-01, the tsengine.synth anchor
HOT_EVERY = 97
HOT_FACTOR = 100
HOT_SPAN_S = 7 * 86400 - 3600
ROLES = np.array(["user", "assistant", "tool"])
ROLE_W = [0.4, 0.4, 0.2]
TOOLS = np.array(["search", "exec", "read", "write", "none"])
ALNUM = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", dtype="S1"
)

EVENTS_T0 = 1704067200  # 2024-01-01 00:00 UTC
EVENTS_DAYS = 30
EVENT_TYPES = np.array(["view", "click", "signup", "error", "purchase"])

# bump when the generator changes, so cached inputs are regenerated
GEN_VERSION = 2
KEEP_INPUTS = 4
# input size: conversations, base turns per conversation, events, event users
N_CONV, BASE_TURNS, N_EVENTS, N_USERS = 250, 150, 100_000, 1500


def transcripts_table(seed: int, n_conv: int, base_turns: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    idx = np.arange(n_conv)
    n = base_turns + rng.integers(0, base_turns, n_conv)
    # hot conversations get HOT_FACTOR x the mean turn count, so the input
    # volume (dominated by them) does not swing with the seed
    n = np.where(idx % HOT_EVERY == 0, (3 * base_turns // 2) * HOT_FACTOR, n)
    total = int(n.sum())
    conv = np.repeat(idx, n)
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    turn_idx = np.arange(total) - np.repeat(starts, n)

    roles = ROLES[rng.choice(3, size=total, p=ROLE_W)]
    tools = np.where(roles == "tool", TOOLS[rng.integers(0, 5, total)], None)
    gaps = np.ceil(rng.lognormal(3.0, 1.2, total)).astype("int64")
    long_gap = rng.random(total) < 0.01
    gaps = np.where(long_gap, gaps + rng.integers(3600, 6 * 3600, total), gaps)
    gaps[starts] = 0  # each conversation starts at its own offset
    cum = np.cumsum(gaps)
    offset = cum - np.repeat(cum[starts], n)
    # hot conversations start at the anchor and are stretched to span
    # exactly HOT_SPAN_S, so the table's day span (which sets the number of
    # tier files) is the same for every seed
    hot = np.repeat(idx % HOT_EVERY == 0, n)
    ends = np.repeat(offset[starts + n - 1], n)
    offset = np.where(hot, offset * HOT_SPAN_S // np.maximum(ends, 1), offset)
    conv_start = np.where(idx % HOT_EVERY == 0, ANCHOR_EPOCH,
                          ANCHOR_EPOCH + rng.integers(0, 86400, n_conv))
    epochs = np.repeat(conv_start, n) + offset

    lengths = rng.integers(16, 257, total)
    pool = ALNUM[rng.integers(0, len(ALNUM), 1 << 16)].tobytes().decode()
    offs = rng.integers(0, len(pool) - 256, total)
    conv_ids = np.array([f"conv_{i:08d}" for i in range(n_conv)])[conv]
    texts = [
        f"{c}:{t}:{pool[o:o + k]}"
        for c, t, o, k in zip(conv_ids.tolist(), turn_idx.tolist(),
                              offs.tolist(), lengths.tolist())
    ]
    return pa.table({
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(epochs * 1_000_000, pa.timestamp("us", tz="UTC")),
    })


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    us = np.sort(rng.integers(0, EVENTS_DAYS * 86400 * 1_000_000, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(EVENTS_T0 * 1_000_000 + us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)], pa.string()),
        "value": pa.array(np.round(rng.lognormal(3.5, 1.0, n_events), 2), pa.float64()),
    })


def ensure_inputs(work: str, seed: int) -> dict:
    """Write (once) and describe the inputs for ``seed`` at the benchmark
    size.  Returns paths plus row counts; the description is recorded in
    every result."""
    n_conv, base_turns, n_events, n_users = N_CONV, BASE_TURNS, N_EVENTS, N_USERS
    size = f"v{GEN_VERSION}-c{n_conv}-t{base_turns}-e{n_events}-u{n_users}"
    d = os.path.join(work, "inputs", f"seed{seed}-{size}")
    info_path = os.path.join(d, "info.json")
    if not os.path.exists(info_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        tr = transcripts_table(seed, n_conv, base_turns)
        pq.write_table(tr, os.path.join(tmp, "transcripts.parquet"))
        ev = events_table(seed, n_events, n_users)
        pq.write_table(ev, os.path.join(tmp, "events.parquet"))
        info = {
            "seed": seed, "size": size, "n_conv": n_conv,
            "turns": tr.num_rows, "events": ev.num_rows, "users": n_users,
        }
        with open(os.path.join(tmp, "info.json"), "w") as f:
            json.dump(info, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    os.utime(d)
    _prune(os.path.dirname(d))
    with open(info_path) as f:
        info = json.load(f)
    info["transcripts"] = os.path.join(d, "transcripts.parquet")
    info["events"] = os.path.join(d, "events.parquet")
    return info


def _prune(root: str) -> None:
    """Delete all but the KEEP_INPUTS most recently used input sets."""
    sets = sorted((e for e in os.scandir(root) if e.is_dir()),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for e in sets[KEEP_INPUTS:]:
        shutil.rmtree(e.path, ignore_errors=True)
