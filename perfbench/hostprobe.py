"""Host-quietness reading, taken before and after each run outside the
timed regions.

Three contention axes on a shared VM:

- CPU steal: every core is saturated with a busy loop for a short window
  and the ``steal`` share of ``/proc/stat`` is read, since steal only shows
  while the cores are demanded;
- CPU speed: the same loop's iterations per second per core, since a
  slowed core need not show as steal;
- memory bandwidth: a single-core pre-touched memcpy, because a neighbour
  saturating the memory bus takes no CPU and so shows no steal.

Speed and bandwidth are compared with a reference measured on this same
kind of host (``host_reference.json``, keyed by CPU model and count).

A probe that fails, hits ``MemoryError`` or finds no reference for this
host reads as ``unknown``; ``quiet`` is only ever a positive reading.

``python3 perfbench/hostprobe.py`` prints one reading and the host key;
``--calibrate N`` takes the median memcpy and loop rates of N readings,
the values to record in ``host_reference.json`` for this host.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STEAL_MAX_PCT = 5.0
MIN_SHARE = 0.8


BURN = ("import time\nend = time.perf_counter() + {dur}\nx = 0\n"
        "while time.perf_counter() < end:\n    x += 1\nprint(x)\n")


def _stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def cpu_reading(dur: float = 0.3) -> tuple[float | None, float | None]:
    """(steal %, busy-loop million iterations per second per core) while
    every core runs the loop; (None, None) when the probe fails."""
    n = os.cpu_count() or 1
    procs = []
    try:
        s0 = _stat()
        procs = [subprocess.Popen([sys.executable, "-c", BURN.format(dur=dur)],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(n)]
        iters = [int(p.communicate(timeout=30 + dur)[0]) for p in procs]
        s1 = _stat()
    except (OSError, ValueError, MemoryError, subprocess.TimeoutExpired):
        return None, None
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    d = [b - a for a, b in zip(s0, s1)]
    if len(d) < 8 or sum(d) <= 0:
        return None, None
    return 100.0 * d[7] / sum(d), sum(iters) / n / dur / 1e6


def memcpy_gbps(mb: int = 128, reps: int = 5) -> float | None:
    try:
        import numpy as np

        a = np.ones(mb * 1_000_000 // 8)
        b = np.empty_like(a)
        np.copyto(b, a)  # pre-touch both buffers
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            np.copyto(b, a)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return mb / 1000 / best
    except (ImportError, MemoryError):
        return None


def host_key() -> str:
    model = "unknown-cpu"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return f"{model} x{os.cpu_count()}"


def reference(key: str) -> dict:
    try:
        with open(os.path.join(HERE, "host_reference.json")) as f:
            return json.load(f).get(key, {})
    except (OSError, ValueError):
        return {}


def verdict(steal: float | None, gbps: float | None, mips: float | None,
            ref: dict) -> str:
    """``quiet`` needs every reading and its reference; any missing piece
    is ``unknown``; a reading past any threshold is ``noisy``."""
    if steal is not None and steal >= STEAL_MAX_PCT:
        return "noisy"
    for got, want in ((gbps, ref.get("memcpy_gbps")), (mips, ref.get("cpu_mips"))):
        if got is not None and want is not None and got < MIN_SHARE * want:
            return "noisy"
    if None in (steal, gbps, mips, ref.get("memcpy_gbps"), ref.get("cpu_mips")):
        return "unknown"
    return "quiet"


def reading() -> dict:
    key = host_key()
    ref = reference(key)
    gbps = memcpy_gbps()
    steal, mips = cpu_reading()
    return {
        "steal_pct": None if steal is None else round(steal, 2),
        "memcpy_gbps": None if gbps is None else round(gbps, 2),
        "cpu_mips": None if mips is None else round(mips, 2),
        "reference": ref,
        "host": key,
        "verdict": verdict(steal, gbps, mips, ref),
    }


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--calibrate":
        n = int(sys.argv[2])
        rates = [r for r in (memcpy_gbps() for _ in range(n)) if r is not None]
        mips = [m for _, m in (cpu_reading() for _ in range(n)) if m is not None]
        print(json.dumps({host_key(): {
            "memcpy_gbps": round(statistics.median(rates), 2) if rates else None,
            "cpu_mips": round(statistics.median(mips), 2) if mips else None,
        }}))
    else:
        print(json.dumps(reading()))
