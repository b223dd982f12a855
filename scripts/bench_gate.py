#!/usr/bin/env python
"""Bench regression gate: run bench.py with the driver's protocol and compare
per-query timings against the newest committed BENCH_r*.json taken with the
same core count and scale factor; with no such baseline it refuses before
it runs anything.

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
sys.path.insert(0, REPO)

from perfbench import hostprobe  # noqa: E402

GATE = float(os.environ.get("TSENGINE_BENCH_GATE", "1.5"))
# below this many seconds a ratio is noise (host steal bursts), not a signal
MIN_ABS_SEC = float(os.environ.get("TSENGINE_BENCH_GATE_MIN_SEC", "1.0"))


def latest_baseline(cpus, sf) -> tuple[str, dict]:
    """Newest BENCH_r*.json taken with the same core count and scale factor
    as the current run: timings from another box shape are no baseline."""
    cands = sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
        reverse=True,
    )
    for path in cands:
        with open(path) as f:
            doc = json.load(f)
        doc = doc.get("parsed", doc)
        if doc.get("cpus") == cpus and doc.get("sf") == sf:
            return path, doc.get("queries", {})
    raise SystemExit(f"no like-for-like baseline (cpus={cpus}, sf={sf})")


def bench_env() -> dict:
    """bench.py's environment, with its defaults for the input scale and
    the core count."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    return env


def run_shape(env: dict) -> tuple[int, float]:
    """(cpus, sf) that bench.py will record for a run in ``env``
    (bench.py main: int(SPARK_GRAFT_CPUS), sf from the SF dir's name)."""
    sf_dir = env["SPARK_GRAFT_SF_DIR"]
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    return int(env["SPARK_GRAFT_CPUS"]), sf


def run_bench() -> dict:
    env = bench_env()
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


def probe() -> dict | None:
    """One host-quietness reading (perfbench/hostprobe.py); None when the
    probe itself raised."""
    try:
        return hostprobe.reading()
    except Exception:
        return None


def host_reading(readings: list) -> str:
    """Combined verdict of the readings around a gate run: "noisy" when any
    reading is noisy, else "quiet" only when every reading is quiet, else
    "unknown" (a failed probe is no evidence of a quiet host)."""
    verdicts = [(r or {}).get("verdict") for r in readings]
    if "noisy" in verdicts:
        return "noisy"
    return "quiet" if all(v == "quiet" for v in verdicts) else "unknown"


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--compare":
        with open(sys.argv[2]) as f:
            current = json.load(f)
        host = None
        base_path, base = latest_baseline(current.get("cpus"), current.get("sf"))
    else:
        # the run's shape is known before it starts: refuse an unlike
        # baseline without spending the bench
        base_path, base = latest_baseline(*run_shape(bench_env()))
        pre = probe()
        current = run_bench()
        host = {"before": pre, "after": probe()}
        for when, r in host.items():
            print(f"host {when}: {json.dumps(r)}")
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
                   "host": host,
                   "regressions": [r[0] for r in regressions]}, f, indent=1)
    if regressions:
        verdict = host_reading(list(host.values())) if host else None
        note = {
            "noisy": " — host contended, reading is substrate-attributed; "
                     "re-run when perfbench/hostprobe.py reads quiet",
            "unknown": " — host reading unknown (probe failed or no "
                       "reference for this host)",
        }.get(verdict, "")
        print(f"FAIL: {len(regressions)} regressions (details {out_path}){note}")
        return 1
    print("OK: no regressions")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
