#!/usr/bin/env python
"""Two-cluster-size scaling evidence (BASELINE.md protocol).

Runs the FULL tier pipeline (raw -> latency plane -> 1m -> 1h -> 1d +
Gorilla/DoD compression) on the SAME synthetic transcripts input at several
parallelism levels and reports throughput at each plus N -> 4N scaling
efficiencies.

Measurement honesty on a noisy shared microVM:

* Each measurement runs in a FRESH subprocess (own JVM), **CPU-pinned with
  taskset to exactly N cores** — without pinning, a `local[1]` JVM still
  uses all 32 host cores for GC/JIT/IO threads, silently inflating the
  low-parallelism baseline and deflating measured efficiency.
* The host shows large run-to-run noise (identical single-threaded numpy
  runs vary 1-17s — Firecracker host contention).  Noise only ever ADDS
  time, so per-level throughput uses the MIN over --runs runs (median also
  reported).
* Controls (written into the same JSON): a pure-Python CPU burn measuring
  the parallel compute the box actually delivers at each level, and a
  plain-vanilla Spark SQL groupBy (no engine code) showing the single-box
  memory-system ceiling for shuffle-heavy work.  These separate the
  engine's scaling from the substrate's.

Usage: python bench/scaling.py [--levels 2,8] [--runs 5] [--n-conv 9000]
Writes BENCH/scaling.json and BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUN_ONE = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from tsengine.session import get_spark
from tsengine.operators import rollup as R
from tsengine import compress as C

cpus = int(sys.argv[1]); tdir = sys.argv[2]
spark = get_spark(app_name=f"scaling-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=str(max(2 * cpus, 8)))
raw = spark.read.parquet(tdir)
n = raw.count()
rv = R._vocab(raw, "role"); tv = R._vocab(raw, "tool")
spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

t0 = time.perf_counter()
turns = R.with_latency(raw)
tiers = R.build_all_tiers(turns, persist=True, role_vocab=rv, tool_vocab=tv)
# all three tiers in ONE action (same schema) -> one job, fewer barriers
tiers["1m"].unionByName(tiers["1h"]).unionByName(tiers["1d"]) \
    .write.format("noop").mode("overwrite").save()
series = turns.selectExpr("conv_id as series_id", "epoch",
                          "coalesce(value, 0.0) as value")
C.compress_table(series, group_cols=("series_id",), epoch_col="epoch",
                 value_cols=("value",)).write.format("noop").mode("overwrite").save()
dt = time.perf_counter() - t0
print(json.dumps({{"cpus": cpus, "turns": n, "sec": dt, "pps": n / dt}}))
"""

CPU_BURN = r"""
import json, sys, time, multiprocessing as mp
def burn(_):
    t0 = time.time(); x = 0
    while time.time() - t0 < 2.0: x += 1
    return x
if __name__ == "__main__":
    n = int(sys.argv[1])
    with mp.Pool(n) as p:
        res = p.map(burn, range(n))
    print(json.dumps({"n": n, "miters": sum(res) / 1e6}))
"""

KERNEL_CTRL = r"""
import json, sys, time
import numpy as np
import multiprocessing as mp

def work(seed):
    sys.path.insert(0, {repo!r})
    from tsengine import compress as C
    rng = np.random.default_rng(seed)
    sizes = rng.integers(100, 800, size=600)
    ts = np.concatenate([np.cumsum(rng.integers(1, 600, size=n)) + 1700000000
                         for n in sizes])
    va = rng.integers(0, 600, size=sizes.sum()).astype(np.float64)
    bounds = np.concatenate(([0], np.cumsum(sizes)))
    t0 = time.time(); pts = 0
    while time.time() - t0 < 4.0:
        C.encode_ts_batch(ts, bounds)
        C.encode_values_batch(va, bounds)
        pts += len(ts)
    return pts

if __name__ == "__main__":
    n = int(sys.argv[1])
    with mp.Pool(n) as p:
        res = p.map(work, range(n))
    print(json.dumps({{"n": n, "pts": sum(res)}}))
"""

SPARK_CTRL = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from tsengine.session import get_spark
cpus = int(sys.argv[1])
spark = get_spark(app_name=f"ctrl-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=str(max(2 * cpus, 8)))
spark.range(10_000).selectExpr("sum(id)").collect()
t0 = time.perf_counter()
spark.range(0, 200_000_000, 1, max(4 * cpus, 8)).selectExpr(
    "id % 1000000 as k", "id as v").groupBy("k").agg({{"v": "sum"}}) \
    .selectExpr("sum(`sum(v)`)").collect()
print(json.dumps({{"cpus": cpus, "sec": time.perf_counter() - t0}}))
"""


def _taskset(cpus: int) -> list[str]:
    return ["taskset", "-c", f"0-{cpus - 1}" if cpus > 1 else "0"]


def run_pipeline(cpus: int, tdir: str) -> dict:
    script = RUN_ONE.format(repo=REPO)
    out = subprocess.run(
        _taskset(cpus) + [sys.executable, "-c", script, str(cpus), tdir],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_burn(cpus: int) -> float:
    out = subprocess.run(
        _taskset(cpus) + [sys.executable, "-c", CPU_BURN, str(cpus)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["miters"]


def run_kernel(cpus: int) -> int:
    script = KERNEL_CTRL.format(repo=REPO)
    out = subprocess.run(
        _taskset(cpus) + [sys.executable, "-c", script, str(cpus)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["pts"]


def run_ctrl(cpus: int) -> float:
    script = SPARK_CTRL.format(repo=REPO)
    out = subprocess.run(
        _taskset(cpus) + [sys.executable, "-c", script, str(cpus)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["sec"]


def main():
    os.environ.setdefault("TSENGINE_TMPFS_SHUFFLE", "1")  # bench substrate control
    ap = argparse.ArgumentParser()
    ap.add_argument("--levels", default="2,8",
                    help="comma-separated core counts; must include an N,4N pair")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--n-conv", type=int, default=9000)
    ap.add_argument("--tdir", default=None)
    ap.add_argument("--skip-controls", action="store_true")
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]
    if args.tdir is None:
        args.tdir = f"/tmp/tsengine_bench_transcripts_{args.n_conv}"

    if not os.path.exists(os.path.join(args.tdir, "_SUCCESS")):
        sys.path.insert(0, REPO)
        from tsengine.session import get_spark
        from tsengine.synth import transcripts

        spark = get_spark(app_name="scaling-gen", master="local[32]")
        transcripts(spark, n_conv=args.n_conv, base_turns=150, hot_factor=100).write.mode(
            "overwrite"
        ).parquet(args.tdir)
        spark.stop()

    results = {}
    for cpus in levels:
        runs = [run_pipeline(cpus, args.tdir) for _ in range(args.runs)]
        secs = sorted(r["sec"] for r in runs)
        best = secs[0]
        results[cpus] = {
            "runs_sec": [round(s, 2) for s in secs],
            "best_sec": round(best, 2),
            "median_sec": round(statistics.median(secs), 2),
            "best_pps": round(runs[0]["turns"] / best, 1),
            "turns": runs[0]["turns"],
        }

    pairs = {}
    for lo in levels:
        hi = lo * 4
        if hi in results:
            eff = results[hi]["best_pps"] / (4 * results[lo]["best_pps"])
            pairs[f"{lo}->{hi}"] = round(eff, 3)

    controls = {}
    if not args.skip_controls:
        controls["cpu_burn_miters"] = {n: round(run_burn(n), 1) for n in levels}
        controls["gorilla_kernel_pts"] = {
            n: max(run_kernel(n) for _ in range(3)) for n in levels
        }
        controls["vanilla_spark_groupby_sec"] = {
            n: round(min(run_ctrl(n) for _ in range(3)), 2) for n in levels
        }

    # the PRIMARY pair is the largest N->4N measured; "pass" is keyed to it
    # alone (an any() over pairs would overstate scaling when a small pair
    # passes but the headline pair fails)
    primary = f"{max(levels)}->{max(levels)*4}" if pairs else None
    if primary not in pairs:
        # numeric sort on the pair's lower level — lexicographic order would
        # rank '16->64' below '4->16' and pick the wrong headline pair
        primary = (
            sorted(pairs, key=lambda k: int(k.split("->")[0]))[-1] if pairs else None
        )
    summary = {
        "protocol": "same job, same input, taskset-pinned cores, best-of-%d runs"
        % args.runs,
        "levels": levels,
        "results": {str(k): v for k, v in results.items()},
        "scaling_efficiency": pairs,
        "target": 0.8,
        "pair_pass": {k: v >= 0.8 for k, v in pairs.items()},
        "primary_pair": primary,
        "pass": bool(primary) and pairs[primary] >= 0.8,
        "controls": controls,
    }
    print(json.dumps(summary, indent=2))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(summary, f, indent=2)
    return summary


if __name__ == "__main__":
    main()
