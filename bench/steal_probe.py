#!/usr/bin/env python
"""Host CPU-steal probe: quantify how much of this box the hypervisor is
currently giving us, so bench numbers taken at different times of day are
interpretable.

Why it exists: the bench gate compares per-query wall time against the
previous round's committed snapshot, but this Firecracker microVM shares
hardware with other tenants and /proc/stat `steal` routinely spikes for
minutes-to-hours (documented since round 1: identical runs varying 16 -> 78 s).
Steal only materializes when we DEMAND the cores, so an idle-box vmstat
reads 0-1 % even while a loaded run would lose 20 % — this probe therefore
saturates all cores with a pure register busy-loop (no memory traffic, no
allocation: nothing of ours can be the bottleneck) and reports the steal
share plus per-worker iteration throughput over the window.

Usage: python bench/steal_probe.py [seconds]   (default 10)
Output: one JSON line, e.g.
  {"steal_pct": 21.9, "user_pct": 74.7, "iters_per_sec_total": 117.9e6, ...}

Interpretation rule used by the gate workflow: re-run the gate only when
steal_pct < 5; a gate FAIL taken at steal_pct >= 10 is a substrate
measurement, not a regression signal.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time


def _burn(dur: float) -> int:
    end = time.perf_counter() + dur
    x = 0
    while time.perf_counter() < end:
        x += 1
    return x


def _stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _memcpy_gbps(mb: int = 200, reps: int = 3) -> float | None:
    """Single-core pre-touched memcpy bandwidth (GB/s) — the SECOND
    contention axis.  A neighbor VM saturating the shared memory bus shows
    ZERO steal (no CPU is taken) while slowing every shuffle/aggregate by
    the bandwidth ratio; this box's quiet-bus reference is ~14.7 GB/s
    (BENCH/BASELINE.md substrate controls), and a round-5 episode measured
    8.1 GB/s at 0.1 % steal alongside uniformly ~1.4x slower bench numbers.

    Returns None when numpy is missing or the two buffers cannot be
    allocated, so the steal half of the probe still reports."""
    try:
        import numpy as np

        a = np.ones(mb * 1_000_000 // 8)
        b = np.empty_like(a)
    except (ImportError, MemoryError):
        return None
    np.copyto(b, a)  # pre-touch both buffers outside the timed region
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(mb / 1000 / best, 1)


def main() -> None:
    dur = float(sys.argv[1]) if len(sys.argv) > 1 else 10.0
    n = os.cpu_count() or 1
    mem_gbps = _memcpy_gbps()
    s0 = _stat()
    with mp.Pool(n) as pool:
        counts = pool.map(_burn, [dur] * n)
    s1 = _stat()
    d = [b - a for a, b in zip(s0, s1)]
    tot = sum(d) or 1
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    shares = {k: round(100 * v / tot, 1) for k, v in zip(names, d)}
    out = {
        "duration_sec": dur,
        "workers": n,
        "steal_pct": shares.get("steal", 0.0),
        "user_pct": shares.get("user", 0.0),
        "idle_pct": shares.get("idle", 0.0),
        "iters_per_sec_total": round(sum(counts) / dur),
        "iters_per_sec_min_worker": round(min(counts) / dur),
        "iters_per_sec_max_worker": round(max(counts) / dur),
        "memcpy_gbps": mem_gbps,
        "memcpy_gbps_quiet_ref": 14.7,
        "gate_advice": (
            "unknown" if mem_gbps is None
            else "quiet" if shares.get("steal", 0.0) < 5 and mem_gbps >= 11.0
            else "noisy"
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
