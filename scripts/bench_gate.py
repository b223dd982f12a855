#!/usr/bin/env python
"""Bench regression gate: run bench.py with the driver's protocol and compare
per-query timings against the newest committed BENCH_r*.json.

Both round-2 regressions (session-wide 16 shuffle partitions; minhash
exploded-distinct) were invisible to ad-hoc builder measurements because they
were tuned on a different phase/table — this script removes that failure mode
by replaying the EXACT driver protocol (env, conf, best-of-2) and flagging any
query slower than GATE (default 1.5x) vs its previous round time.

Usage:
    python scripts/bench_gate.py             # run bench, compare, exit 1 on regressions
    python scripts/bench_gate.py --compare bench_out.json   # compare only
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE = float(os.environ.get("TSENGINE_BENCH_GATE", "1.5"))
# below this many seconds a ratio is noise (host steal bursts), not a signal
MIN_ABS_SEC = float(os.environ.get("TSENGINE_BENCH_GATE_MIN_SEC", "1.0"))


def latest_baseline() -> tuple[str, dict]:
    cands = sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
    )
    if not cands:
        raise SystemExit("no BENCH_r*.json baseline found")
    path = cands[-1]
    with open(path) as f:
        doc = json.load(f)
    queries = doc.get("parsed", doc).get("queries", {})
    return path, queries


def run_bench() -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"bench.py failed rc={out.returncode}")
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def probe_steal() -> dict:
    """Quantify host CPU steal around the measurement (bench/steal_probe.py):
    a gate FAIL taken while the hypervisor is stealing >= 10 % of the box is
    a substrate reading, not a regression signal — record the context so the
    snapshot is interpretable later."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench", "steal_probe.py"), "5"],
        capture_output=True, text=True,
    )
    try:
        return json.loads(out.stdout.strip().splitlines()[-1])
    except Exception:
        return {"steal_pct": None, "error": out.stderr[-300:]}


def host_reading(probes: list) -> str:
    """Classify the host around a gate run from its steal-probe readings:
    "noisy" when any reading shows steal >= 10 % or a memory bus below
    11 GB/s, else "unknown" when any reading is missing (a failed probe is
    no evidence of a quiet host), else "quiet"."""
    pairs = [((p or {}).get("steal_pct"), (p or {}).get("memcpy_gbps")) for p in probes]
    if any((s is not None and s >= 10) or (m is not None and m < 11.0)
           for s, m in pairs):
        return "noisy"
    if any(s is None or m is None for s, m in pairs):
        return "unknown"
    return "quiet"


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--compare":
        with open(sys.argv[2]) as f:
            current = json.load(f)
        steal = None
    else:
        pre = probe_steal()
        current = run_bench()
        post = probe_steal()
        steal = {"before": pre, "after": post}
        print(f"host steal: {pre.get('steal_pct')}% before, "
              f"{post.get('steal_pct')}% after; memcpy "
              f"{pre.get('memcpy_gbps')}/{post.get('memcpy_gbps')} GB/s "
              f"(quiet ref 14.7)")
    base_path, base = latest_baseline()
    cur_q = current.get("queries", {})
    regressions, improved = [], []
    for name, prev in sorted(base.items()):
        now = cur_q.get(name)
        if now is None:
            continue
        ratio = now / prev if prev > 0 else float("inf")
        if ratio > GATE and now > MIN_ABS_SEC:
            regressions.append((name, prev, now, ratio))
        elif ratio < 1 / GATE:
            improved.append((name, prev, now, ratio))
    print(f"baseline: {os.path.basename(base_path)}  gate: {GATE}x  "
          f"total: {sum(cur_q.values()):.1f}s vs {sum(base.values()):.1f}s")
    for name, prev, now, ratio in improved:
        print(f"  improved   {name}: {prev:.2f}s -> {now:.2f}s ({ratio:.2f}x)")
    for name, prev, now, ratio in regressions:
        print(f"  REGRESSION {name}: {prev:.2f}s -> {now:.2f}s ({ratio:.2f}x)")
    out_path = os.path.join(REPO, "BENCH", "bench_gate_last.json")
    with open(out_path, "w") as f:
        json.dump({"baseline": os.path.basename(base_path), "current": current,
                   "host_steal": steal,
                   "regressions": [r[0] for r in regressions]}, f, indent=1)
    if regressions:
        host = host_reading([steal["before"], steal["after"]]) if steal else None
        note = {
            "noisy": " — host contended (steal >= 10% or memory bus < 11 GB/s), "
                     "reading is substrate-attributed",
            "unknown": " — host probe unavailable, contention unknown",
        }.get(host)
        print(f"FAIL: {len(regressions)} regressions (details {out_path})"
              + (note + "; re-run when bench/steal_probe.py says quiet" if note else ""))
        return 1
    print("OK: no regressions")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
