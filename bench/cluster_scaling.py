#!/usr/bin/env python
"""Multi-executor scaling evidence (BASELINE.md protocol step 2): the tier
pipeline submitted with ``spark-submit --py-files tsengine.zip`` on
``local-cluster[N,c,m]`` vs ``local-cluster[4N,c,m]`` — REAL executor JVM
processes with the package shipped the way a production cluster ships it,
not local[N] thread pools.

Protocol:
- one shared transcripts table (seed-deterministic), generated once;
- each level runs the identical job (with_latency -> build_all_tiers ->
  noop sink + Gorilla compress) best-of-R;
- the process tree is taskset-pinned to (executors + 2 service) cores so an
  N-executor run cannot borrow the idle host cores for GC/JIT/shuffle
  threads (the "local[N] is not an N-core box" substrate effect measured in
  BENCH/BASELINE.md);
- efficiency(N->4N) = pps_4N / (4 * pps_N); writes BENCH/scaling_cluster.json.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tsengine.session import ENGINE_CONF, get_spark  # noqa: E402

JOB = r"""
import json, sys, time
# NO repo path insert: tsengine must resolve from the --py-files zip, on the
# driver and inside every executor's Python worker
from pyspark.sql import SparkSession
from tsengine.operators import rollup as R
from tsengine import compress as C

tdir = sys.argv[1]
mode = sys.argv[2] if len(sys.argv) > 2 else "compress"  # compress|nocompress
# optional "subset=K/D": weak-scaling slice — keep K of D deterministic
# conversation buckets so per-executor work stays constant as N grows
subset = None
for a in sys.argv[3:]:
    if a.startswith("subset="):
        subset = tuple(int(x) for x in a[len("subset="):].split("/"))
spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
raw = spark.read.parquet(tdir)
if subset:
    from pyspark.sql import functions as F
    k, d = subset
    if k < d:
        raw = raw.where(F.pmod(F.xxhash64("conv_id"), F.lit(d)) < k)
n = raw.count()
rv = R._vocab(raw, "role"); tv = R._vocab(raw, "tool")
# warmup: force executors up, codegen compiled, heaps faulted BEFORE timing
spark.range(2_000_000).selectExpr("id % 1000 k", "id v").groupBy("k").sum("v").write.format("noop").mode("overwrite").save()

execs = spark.sparkContext.defaultParallelism
spark.sparkContext.setJobGroup("timed", "timed region")  # stage filter
t0 = time.perf_counter()
turns = R.with_latency(raw)
tiers = R.build_all_tiers(turns, persist=True, role_vocab=rv, tool_vocab=tv)
tiers["1m"].unionByName(tiers["1h"]).unionByName(tiers["1d"]) \
    .write.format("noop").mode("overwrite").save()
if mode == "compress":
    series = turns.selectExpr("conv_id as series_id", "epoch",
                              "coalesce(value, 0.0) as value")
    C.compress_table(series, group_cols=("series_id",), epoch_col="epoch",
                     value_cols=("value",)).write.format("noop").mode("overwrite").save()
dt = time.perf_counter() - t0

# per-stage input and shuffle bytes of the timed region's jobs, from the
# live status store (perfbench/spans.py ships in --py-files)
from spans import read_stores
st = read_stores(spark)
spark.stop()
timed = {sid for j in st["jobs"] if j.get("jobGroup") == "timed"
         for sid in j["stageIds"]}
stages = {}
for s in st["stages"]:  # one entry per stage attempt
    if s["stageId"] in timed:
        cur = stages.setdefault(s["stageId"], {
            "name": s["name"].split("\n")[0], "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "input_bytes": 0})
        cur["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        cur["shuffle_read_bytes"] += s["shuffleReadBytes"]
        cur["input_bytes"] += s["inputBytes"]
stages = {sid: v for sid, v in sorted(stages.items())
          if v["shuffle_write_bytes"] or v["shuffle_read_bytes"]}
out = {"execs": execs, "turns": n, "sec": dt, "pps": n / dt, "mode": mode,
       "shuffle_write_total": sum(s["shuffle_write_bytes"] for s in stages.values()),
       "shuffle_read_total": sum(s["shuffle_read_bytes"] for s in stages.values()),
       "stages": stages}
print(json.dumps(out))
"""


CTRL_JOB = r"""
import json, sys, time
# vanilla-Spark control: window + aggregate over range data, ZERO engine
# code — measures what THIS local-cluster substrate lets bare Spark SQL
# scale to, so the engine's efficiency can be reported relative to it
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

rows = int(sys.argv[1])
spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
spark.range(2_000_000).selectExpr("id % 1000 k", "id v").groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
t0 = time.perf_counter()
df = spark.range(rows).selectExpr("cast(id % 1500000 as string) g", "id v")
w = Window.partitionBy("g").orderBy("v")
out = (df.withColumn("lag", F.lag("v").over(w))
         .groupBy("g").agg(F.count("*").alias("c"), F.sum(F.col("v") - F.col("lag")).alias("s"),
                           F.min("v").alias("mn"), F.max("v").alias("mx")))
out.write.format("noop").mode("overwrite").save()
dt = time.perf_counter() - t0
print(json.dumps({"rows": rows, "sec": dt, "pps": rows / dt}))
spark.stop()
"""


def build_zip(path: str) -> str:
    pkg = os.path.join(REPO, "tsengine")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return path


def spark_submit_bin() -> str:
    import pyspark

    return os.path.join(pyspark.__path__[0], "bin", "spark-submit")


JVM_OPTS = "-XX:+UseTransparentHugePages -XX:+AlwaysPreTouch"


def run_level(n_exec: int, exec_cores: int, zip_path: str, job_path: str,
              job_arg: str, extra_args: list[str] | None = None,
              exec_mem_mb: int | None = None,
              parts_per_core: int = 2, parts: int | None = None) -> dict:
    service_cores = 2  # driver JVM (hosts the in-process master/worker daemons)
    pin = list(range(min(n_exec * exec_cores + service_cores, os.cpu_count())))
    # default heap scales with cores; override for configs where per-TASK
    # data is large (e.g. 1-core executors keep the 8-partition floor, so a
    # weak-scaled N=4 level pushes 4x the rows through each task)
    mem_mb = exec_mem_mb or (1024 + 1024 * exec_cores)
    # weak-scaling fairness: with the default 2 tasks/core the max(.., 8)
    # floor makes small-core levels run CONSTANT partition counts while the
    # slice grows linearly — per-task state then grows with N and the big
    # level OOMs first.  parts_per_core > 2 restores constant per-task work
    # (partitions ∝ slice), the shape a fixed target-partition-size config
    # gives on a real cluster.
    # strong-scaling fairness is the opposite: FIXED input wants a FIXED
    # partition count at every level (identical plan and task grain, only
    # the core count varies) — pass ``parts`` to pin it.
    shuffle_parts = parts or max(parts_per_core * n_exec * exec_cores, 8)
    cmd = [
        "taskset", "-c", ",".join(map(str, pin)),
        spark_submit_bin(),
        "--master", f"local-cluster[{n_exec},{exec_cores},{mem_mb}]",
        "--py-files", f"{zip_path},{os.path.join(REPO, 'perfbench', 'spans.py')}",
        "--conf", f"spark.executor.memory={mem_mb - 256}m",
        "--conf", "spark.driver.memory=3g",
        # substrate mitigations measured in BENCH/BASELINE.md: fault each
        # JVM heap once at startup (outside the timed region) and use THP,
        # or the microVM's ~100x first-touch page faults dominate
        "--conf", f"spark.executor.extraJavaOptions={JVM_OPTS}",
        "--conf", f"spark.driver.extraJavaOptions={JVM_OPTS}",
        "--conf", f"spark.sql.shuffle.partitions={shuffle_parts}",
        *(a for k, v in ENGINE_CONF.items() for a in ("--conf", f"{k}={v}")),
        job_path, job_arg, *(extra_args or []),
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip, not the repo, must provide tsengine
    # keep glibc arena pages resident in every JVM + Python worker
    env.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    env.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    env.setdefault("MALLOC_MMAP_MAX_", "0")
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=2400)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from level {n_exec}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main():
    os.environ.setdefault("TSENGINE_TMPFS_SHUFFLE", "1")
    ap = argparse.ArgumentParser()
    ap.add_argument("--levels", default="2,8", help="executor counts (N,4N)")
    ap.add_argument("--exec-cores", type=int, default=2)
    ap.add_argument("--parts-per-core", type=int, default=2,
                    help="shuffle partitions per executor core (floor 8)")
    ap.add_argument("--parts", type=int, default=None,
                    help="absolute shuffle partition count at EVERY level "
                         "(strong-scaling fairness: identical plan/task grain)")
    ap.add_argument("--exec-mem-mb", type=int, default=None,
                    help="per-executor container memory MB (default 1024+1024*cores)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--n-conv", type=int, default=9000)
    ap.add_argument("--tdir", default=None)
    ap.add_argument("--skip-control", action="store_true")
    ap.add_argument("--control-rows", type=int, default=40_000_000)
    ap.add_argument(
        "--weak", action="store_true",
        help="weak scaling: level N runs on an N/max(levels) deterministic "
             "slice of the table (fixed work PER EXECUTOR; ideal pps(4N) = "
             "4*pps(N), same ratio formula); writes BENCH/scaling_weak.json")
    ap.add_argument("--modes", default="compress,nocompress",
                    help="comma list of pipeline modes to sweep")
    ap.add_argument("--out", default=None,
                    help="BENCH/ output filename (default scaling_weak.json / scaling_cluster.json)")
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]
    tdir = args.tdir or f"/tmp/tsengine_bench_transcripts_{args.n_conv}"

    if not os.path.exists(os.path.join(tdir, "_SUCCESS")):
        from tsengine.synth import write_transcripts

        spark = get_spark(app_name="cluster-scaling-gen", master="local[16]")
        write_transcripts(spark, tdir, n_conv=args.n_conv, base_turns=60, hot_factor=40)
        spark.stop()

    # this run's package zip and job scripts: a private directory, so runs
    # from two checkouts can go side by side (the transcripts stay shared)
    work = tempfile.mkdtemp(prefix="tsengine_cluster_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    zip_path = build_zip(os.path.join(work, "tsengine_pyfiles.zip"))
    job_path = os.path.join(work, "tsengine_cluster_job.py")
    with open(job_path, "w") as f:
        f.write(JOB)

    denom = max(levels)
    modes = [m.strip() for m in args.modes.split(",") if m.strip()]
    mode_results: dict[str, dict] = {m: {} for m in modes}
    for mode in modes:
        for n in levels:
            extra = [mode] + ([f"subset={n}/{denom}"] if args.weak else [])
            runs = [run_level(n, args.exec_cores, zip_path, job_path, tdir,
                              extra_args=extra, exec_mem_mb=args.exec_mem_mb,
                              parts_per_core=args.parts_per_core,
                              parts=args.parts)
                    for _ in range(args.runs)]
            best = max(runs, key=lambda r: r["pps"])
            mode_results[mode][n] = {
                "best_pps": round(best["pps"], 1),
                "best_sec": round(best["sec"], 2),
                "turns": best["turns"],
                "all_pps": [round(r["pps"], 1) for r in runs],
                "shuffle_write_total_bytes": best["shuffle_write_total"],
                "shuffle_read_total_bytes": best["shuffle_read_total"],
                # per-stage shuffle bytes of the best run — the plans'
                # scale story IS shuffle volume, so publish it
                "stages": best["stages"],
            }
            print(f"[{mode}] executors={n}: best {best['pps']:,.0f} pts/s, "
                  f"shuffle W/R {best['shuffle_write_total']:,}/"
                  f"{best['shuffle_read_total']:,} B over {args.runs} runs",
                  file=sys.stderr)
    primary = "compress" if "compress" in modes else modes[0]
    results = mode_results[primary]  # primary (full pipeline, as r03)

    ctrl = {}
    if not args.skip_control:
        ctrl_path = os.path.join(work, "tsengine_cluster_ctrl.py")
        with open(ctrl_path, "w") as f:
            f.write(CTRL_JOB)
        for n in levels:
            ctrl_rows = (args.control_rows * n // denom if args.weak
                         else args.control_rows)
            runs = [run_level(n, args.exec_cores, zip_path, ctrl_path,
                              str(ctrl_rows), exec_mem_mb=args.exec_mem_mb,
                              parts_per_core=args.parts_per_core,
                              parts=args.parts)
                    for _ in range(2)]
            best = max(runs, key=lambda r: r["pps"])
            ctrl[n] = {"best_pps": round(best["pps"], 1),
                       "all_pps": [round(r["pps"], 1) for r in runs]}
            print(f"control executors={n}: best {best['pps']:,.0f} rows/s",
                  file=sys.stderr)

    pairs = {}
    ctrl_pairs = {}
    rel_pairs = {}
    mode_pairs: dict[str, dict] = {m: {} for m in modes}
    for lo in levels:
        hi = lo * 4
        if hi in results:
            for m in modes:
                mode_pairs[m][f"{lo}->{hi}"] = round(
                    mode_results[m][hi]["best_pps"]
                    / (4 * mode_results[m][lo]["best_pps"]), 3
                )
            pairs[f"{lo}->{hi}"] = mode_pairs[primary][f"{lo}->{hi}"]
            if lo in ctrl and hi in ctrl:
                ctrl_pairs[f"{lo}->{hi}"] = round(
                    ctrl[hi]["best_pps"] / (4 * ctrl[lo]["best_pps"]), 3
                )
                rel_pairs[f"{lo}->{hi}"] = round(
                    pairs[f"{lo}->{hi}"] / ctrl_pairs[f"{lo}->{hi}"], 3
                )
    # numeric sort on the pair's lower level (lexicographic order would rank
    # '16->64' below '4->16')
    primary = (
        sorted(pairs, key=lambda k: int(k.split("->")[0]))[-1] if pairs else None
    )
    summary = {
        "protocol": (
            f"spark-submit --py-files tsengine.zip, master=local-cluster[N,{args.exec_cores},m] "
            f"(real executor JVMs, {args.exec_cores} cores each, AlwaysPreTouch+THP, "
            f"malloc arenas resident), taskset-pinned to N*{args.exec_cores}+2 cores, "
            f"best-of-{args.runs}"
            + (f"; WEAK scaling: level N reads the N/{denom} xxhash64(conv_id) "
               f"bucket slice (work per executor constant; ideal ratio 1.0)"
               if args.weak else "")
        ),
        "scaling_kind": "weak" if args.weak else "strong",
        "exec_cores": args.exec_cores,
        "exec_mem_mb": args.exec_mem_mb or (1024 + 1024 * args.exec_cores),
        "parts_per_core": args.parts_per_core,
        "parts": args.parts,
        "levels": levels,
        "results": {str(k): v for k, v in results.items()},
        "results_by_mode": {
            m: {str(k): v for k, v in mode_results[m].items()} for m in modes
        },
        "scaling_efficiency": pairs,
        "scaling_efficiency_by_mode": mode_pairs,
        "control": {str(k): v for k, v in ctrl.items()},
        "control_efficiency": ctrl_pairs,
        "engine_relative_efficiency": rel_pairs,
        "target": 0.8,
        "pair_pass": {k: v >= 0.8 for k, v in pairs.items()},
        "primary_pair": primary,
        "pass": bool(primary) and pairs[primary] >= 0.8,
    }
    print(json.dumps(summary, indent=2))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_name = args.out or ("scaling_weak.json" if args.weak else "scaling_cluster.json")
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump(summary, f, indent=2)


if __name__ == "__main__":
    main()
