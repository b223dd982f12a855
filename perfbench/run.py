"""Benchmark entry point.

    python3 perfbench/run.py --workload maintain|dashboard \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one closed-loop client, Spark
in local mode sized from this box (``local[nproc]``, shuffle partitions
from ``nproc``, driver heap from ``MemTotal``).  Everything the run
writes (cached inputs, state directories, Spark scratch, results) stays
under ``.perfbench_work/`` in the repository root.

Output: a human-readable report with every metric's unit and sample count,
one ``RECORD`` line holding the full result (box shape, seed, input sizes,
host-quietness readings before and after), and as the last line the JSON
result: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  A traced run also writes its spans to
``.perfbench_work/results/``; ``compare.py`` reports tracing overhead from
traced and untraced runs of the same code.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def box_shape() -> dict:
    """Spark sizing derived from this box: every core, two shuffle
    partitions per core, and a driver heap of a sixth of the box's memory
    (1-4 GB, whole GB).  The heap follows MemTotal, not MemAvailable, so
    the shape of one box does not drift with its neighbours' use; free
    memory is recorded beside it."""
    cpus = len(os.sched_getaffinity(0))
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) / 1024 / 1024  # GiB
    heap = max(1, min(4, int(mem["MemTotal"] // 6)))
    return {
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": 2 * cpus,
        "driver_memory": f"{heap}g",
        "mem_total_gb": round(mem["MemTotal"], 1),
        "mem_available_gb": round(mem["MemAvailable"], 1),
    }


def start_session(shape: dict):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python workers import tsengine from this checkout
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, for the launcher JVM too;
    # JIT compiler threads that live as long as the JVM, so that
    # metrics.tree_cpu_s can leave their CPU out of an operation's
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    from tsengine.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=shape["master"],
        shuffle_partitions=str(shape["shuffle_partitions"]),
        extra_conf={
            "spark.driver.memory": shape["driver_memory"],
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of a run for tracing
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from metrics import descendants

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while (alive := [p for p in tree if os.path.exists(f"/proc/{p}")]) and (
            time.time() < deadline):
        time.sleep(0.05)
    if alive:
        print(f"perfbench: processes {alive} outlived the session", file=sys.stderr)


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.json")


def code_id() -> str:
    """Digest of the engine's and the benchmark's Python sources, recorded
    in every result so runs of different code are never compared as one."""
    h = hashlib.sha256()
    for top in ("tsengine", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("tsengine", "oracle"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need}/ not found under {ROOT}; run from a "
                  "full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import hostprobe
    import inputs
    import spans
    import workloads
    from metrics import RssSampler, check_name

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    shape = box_shape()
    quiet_before = hostprobe.reading()
    log("host probed")
    info = inputs.ensure_inputs(WORK, args.seed)
    log("inputs ready")

    # the sampler's /proc reads cost CPU in this process, so it runs only
    # in traced runs, which report peak RSS as a per-layer metric
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        t0 = time.perf_counter()
        spark = start_session(shape)
        session_s = time.perf_counter() - t0
        try:
            tracer = spans.Tracer(enabled=False)
            ctx = workloads.Context(spark, WORK, info, args.seed, tracer)
            ctx.trace_requested = bool(args.trace)
            res = workloads.WORKLOADS[args.workload](ctx, args.seconds)
            log("workload done")
            summary = workloads.summarize(ctx.stats)
            op_p50 = summary["op_s"]["p50"]
            gated = summary["op_cpu_s"]["values"][:workloads.GATED_OPS]
            op_cpu_p50 = statistics.median(gated)
            if args.trace:
                layer, occurrences = spans.collect(spark, tracer, op_p50)
        finally:
            stop_session(spark)
            log("session stopped")
        peak_rss_mb = rss.peak / (1 << 20) if rss else None
    quiet_after = hostprobe.reading()

    setup_s = session_s + res["load_s"] + res["build_s"] + res["warmup_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_cpu_p50_s": (op_cpu_p50, "s"),
        "tier_bytes_per_turn": (res["tier_bytes_per_turn"], "bytes/turn"),
    }
    tally = ctx.tally
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "code": code_id(), "shape": shape,
        "inputs": {k: v for k, v in info.items()
                   if k not in ("transcripts", "events")},
        "host_before": quiet_before, "host_after": quiet_after,
        "peak_rss_mb": peak_rss_mb,
        "rss_at_peak_mb": rss and sorted(
            ((exe, round(v / (1 << 20))) for exe, v in rss.at_peak.values()),
            key=lambda x: -x[1]),
        "setup": {"session_s": session_s, "load_s": res["load_s"],
                  "build_s": res["build_s"], "warmup_s": res["warmup_s"]},
        "attempted": tally.attempted, "failed": tally.failed,
        "failed_frac": tally.failed_frac, "errors": tally.errors[:10],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "samples": summary,
    }

    print(f"workload {args.workload}  seed {args.seed}  box {shape['master']} "
          f"heap {shape['driver_memory']}  turns {info['turns']}  "
          f"host {quiet_before['verdict']}/{quiet_after['verdict']}")
    for k, (v, u) in e2e.items():
        n = len(gated) if k == "op_cpu_p50_s" else 1
        print(f"  {check_name(k):<24} {v:>14.6g} {u:<10} n={n}")
    print(f"  {'failed_frac':<24} {tally.failed_frac:>14.6g} {'ratio':<10} "
          f"n={tally.attempted}")
    if rss:
        print(f"  {'peak_rss_mb':<24} {peak_rss_mb:>14.6g} {'MB':<10} n=1")
    for key, s in summary.items():
        t = s["tail"]
        tail_txt = (f"p{t['pct']}={t['value']:.6g} ({t['beyond']} beyond)"
                    if t else "tail n/a (<11 samples)")
        unit = "1/s" if key.endswith("per_s") else "s"
        print(f"  {key:<24} p50={s['p50']:.6g} {unit}  n={s['n']}  {tail_txt}")
    for err in tally.errors[:5]:
        print(f"  FAILED: {err.strip().splitlines()[-1]}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    if args.trace:
        layer["workload.peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
        metrics = layer
        record["per_layer"] = layer
        with open(os.path.join(WORK, "results",
                               f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(occurrences, f)
        print(f"  traced op_p50_s {op_p50:.6g} s (workload.op_p50_s); "
              "compare.py gives the overhead against untraced runs")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    with open(_result_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(record, f, indent=1)
    print("RECORD " + json.dumps(record))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
