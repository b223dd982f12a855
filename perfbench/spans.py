"""Per-layer spans around public tsengine calls, resolved against Spark's
own status stores after the run.

A span is ``(name, start, end, plan_s, exec_s)`` in wall-clock seconds,
kept in memory.  Only a traced run records spans; at its end
:func:`collect` reads, in a handful of JSON round trips:

- the app status store (``SparkContext.statusStore``): jobs with their
  submission and completion times and stage ids, per-stage run/CPU/GC time,
  input, shuffle-write, fetch-wait and spill totals, and a task-time
  summary (median and max) for each span's longest stage;
- the SQL status store (``sharedState.statusStore``): per-execution SQL
  metrics, from which Python-worker bytes and run time and the
  aggregation build time come.

Jobs and SQL executions are attributed to a span by submission time, not
by job group: the benchmark is single-client and sequential, and
``MaterializedTiers.refresh`` submits from its own thread pool, whose
threads do not inherit the caller's job group.  Both stores work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

# span -> columns kept for it.  Columns that read zero for a span on every
# workload are left out: local mode fetches no remote shuffle blocks
# (fetch wait), nothing spills at this size, retention is manifest-only,
# an append runs no shuffle and no Python, and only the refresh spends
# measurable GC time.
BASE_COLS = (
    "wall_s", "driver_s", "jobs", "exec_run_s", "exec_cpu_s", "scan_bytes",
    "shuffle_write_bytes", "task_skew",
)
PY_COLS = ("python_bytes", "python_run_s")
READ_COLS = ("plan_s", "exec_s")
SPANS = {
    "snapshots.append": ("wall_s", "driver_s", "jobs", "exec_run_s",
                         "exec_cpu_s", "scan_bytes", "task_skew"),
    "materialize.refresh": BASE_COLS + ("gc_s",),
    "materialize.freeze_tier_blocks": BASE_COLS + PY_COLS,
    "materialize.apply_retention": ("wall_s",),
    "materialize.read_realtime": BASE_COLS + READ_COLS,
    "materialize.read_resampled": BASE_COLS + READ_COLS,
    "materialize.read_tier_compressed": tuple(
        c for c in BASE_COLS if c != "shuffle_write_bytes") + PY_COLS + READ_COLS,
    "plans.query": BASE_COLS + READ_COLS,
}
# figures the library itself reports about a refresh
REFRESH_EXTRA = ("agg_build_s", "1m_s", "1h_s", "1d_s", "convstate_s",
                 "files_reused", "files_rewritten")
# workload-level figures of the traced run: op_p50_s, the median operation
# wall time, so tracing overhead shows against the untraced runs' (printed
# as op_s); the status-store read time;
# and peak RSS, which varies too much from run to run (with heap growth and
# the number of live Python workers) to be an end-to-end metric
WORKLOAD_EXTRA = {"op_p50_s": "s", "collect_s": "s", "peak_rss_mb": "MB"}


def unit_of(col: str) -> str:
    if col.endswith("_s"):
        return "s"
    if col.endswith("_bytes"):
        return "bytes"
    if col == "task_skew":
        return "ratio"
    return "count"


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, as (name, unit)."""
    out = [(f"{span}.{col}", unit_of(col))
           for span, cols in SPANS.items() for col in cols]
    out += [(f"materialize.refresh.{c}", unit_of(c)) for c in REFRESH_EXTRA]
    out += [(f"workload.{k}", u) for k, u in WORKLOAD_EXTRA.items()]
    return out


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.refreshes: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if name not in SPANS:
            raise KeyError(name)
        rec = {"name": name, "t0": time.time()}
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            if self.enabled:
                self.spans.append(rec)

    def read(self, name: str, plan, execute):
        """A read or query span split into ``plan_s`` (the call returning
        the lazy frame) and ``exec_s`` (the action).  Returns
        ``(result, seconds)``."""
        with self.span(name) as rec:
            t0 = time.perf_counter()
            df = plan()
            t1 = time.perf_counter()
            out = execute(df)
            t2 = time.perf_counter()
        rec["plan_s"], rec["exec_s"] = t1 - t0, t2 - t1
        return out, t2 - t0

    def refresh(self, mt, spark) -> float:
        """Traced ``MaterializedTiers.refresh``; also keeps the library's
        own per-component timings and lineage file counts."""
        def key(r):
            return r["component"], r["source_from_id"], r["source_to_id"]

        seen = {key(r) for r in mt.lineage_rows()} if self.enabled else set()
        t0 = time.perf_counter()
        with self.span("materialize.refresh"):
            mt.refresh(spark)
        dt = time.perf_counter() - t0
        if self.enabled:
            rows = [r for r in mt.lineage_rows() if key(r) not in seen]
            self.refreshes.append({
                **{f"{c}_s": v for c, v in mt.last_refresh_timings.items()},
                "files_reused": sum(r["reused_files"] for r in rows),
                "files_rewritten": sum(r["rewritten_files"] for r in rows),
            })
        return dt


# ------------------------------------------------------------ status stores

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric string, in bytes or seconds.
    Accepts the plain form (``"14 ms"``, ``"10.5 KiB"``, ``"200,000"``) and
    the per-task form (``"total (min, med, max ...)\\n3.1 MiB (...)"``),
    whose first figure after the header line is the total."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _mapper(jvm):
    m = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    return m


def read_stores(spark) -> dict:
    """Jobs, stages and SQL executions from the live status stores."""
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    m = _mapper(jvm)
    store = spark.sparkContext._jsc.sc().statusStore()
    no_q = gw.new_array(jvm.double, 0)
    jobs = json.loads(m.writeValueAsString(store.jobsList(None)))
    stages = json.loads(m.writeValueAsString(
        store.stageList(None, False, False, no_q, None)))
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = json.loads(m.writeValueAsString(sql.executionsList()))
    return {"jobs": jobs, "stages": stages, "execs": execs, "_store": store,
            "_mapper": m, "_gw": gw, "_jvm": jvm}


def _ms(v) -> float | None:
    """Epoch milliseconds of a serialized Date (number or ISO string)."""
    if v is None:
        return None
    if isinstance(v, (int, float)):
        return float(v)
    from datetime import datetime

    return datetime.fromisoformat(v.replace("GMT", "+00:00")).timestamp() * 1e3


def _skew(stores: dict, stage: dict) -> float:
    jvm, gw = stores["_jvm"], stores["_gw"]
    q = gw.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    opt = stores["_store"].taskSummary(stage["stageId"], stage["attemptId"], q)
    if opt.isEmpty():
        return 1.0
    dist = json.loads(stores["_mapper"].writeValueAsString(opt.get()))
    med, mx = dist["executorRunTime"]
    return mx / med if med > 0 else 1.0


def span_figures(stores: dict, span: dict) -> dict:
    """Spark-side figures of one span occurrence."""
    t0, t1 = span["t0"] * 1e3, span["t1"] * 1e3
    wall = (t1 - t0) / 1e3
    jobs = [j for j in stores["jobs"]
            if (s := _ms(j.get("submissionTime"))) is not None and t0 <= s <= t1]
    # wall time covered by the span's jobs (union of their intervals)
    ivs = sorted((_ms(j["submissionTime"]), _ms(j.get("completionTime")) or t1)
                 for j in jobs)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        lo, hi = max(lo, t0), min(hi, t1)
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    sids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [s for s in stores["stages"] if s["stageId"] in sids
              and s.get("status") != "SKIPPED"]
    out = {
        "wall_s": wall,
        "driver_s": max(0.0, wall - covered / 1e3),
        "jobs": float(len(jobs)),
        "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "scan_bytes": float(sum(s["inputBytes"] for s in stages)),
        "shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in stages)),
        "task_skew": 1.0,
    }
    if stages:
        longest = max(stages, key=lambda s: s["executorRunTime"])
        if longest["numTasks"] > 1:
            out["task_skew"] = _skew(stores, longest)
    py_bytes = py_run = agg_build = 0.0
    for e in stores["execs"]:
        s = _ms(e.get("submissionTime"))
        if s is None or not t0 <= s <= t1:
            continue
        names = {str(x["accumulatorId"]): x["name"] for x in e["metrics"]}
        for acc, text in (e.get("metricValues") or {}).items():
            name = names.get(str(acc))
            if name in ("data sent to Python workers",
                        "data returned from Python workers"):
                py_bytes += parse_sql_metric(text)
            elif name == "time to run Python workers":
                py_run += parse_sql_metric(text)
            elif name == "time in aggregation build":
                agg_build += parse_sql_metric(text)
    out.update(python_bytes=py_bytes, python_run_s=py_run,
               agg_build_s=agg_build)
    if "plan_s" in span:
        out.update(plan_s=span["plan_s"], exec_s=span["exec_s"])
    return out


def collect(spark, tracer: Tracer, op_p50_s: float) -> tuple[dict, list]:
    """Per-layer metrics (median over each span's occurrences; spans that
    did not run on this workload read 0) plus the raw per-occurrence
    figures for the trace file."""
    t0 = time.perf_counter()
    stores = read_stores(spark)
    occurrences = []
    by_span: dict[str, list[dict]] = {}
    for sp in tracer.spans:
        figs = span_figures(stores, sp)
        occurrences.append({"name": sp["name"], "t0": sp["t0"],
                            "t1": sp["t1"], **figs})
        by_span.setdefault(sp["name"], []).append(figs)
    metrics = {}
    for name, unit in per_layer_metrics():
        span, col = name.rsplit(".", 1)
        if col in SPANS.get(span, ()) or col == "agg_build_s":
            vals = [f[col] for f in by_span.get(span, [])]
        elif span == "materialize.refresh":
            vals = [r[col] for r in tracer.refreshes if col in r]
        else:
            continue
        metrics[name] = {"value": statistics.median(vals) if vals else 0.0,
                         "unit": unit}
    metrics["workload.op_p50_s"] = {"value": op_p50_s, "unit": "s"}
    metrics["workload.collect_s"] = {"value": time.perf_counter() - t0,
                                     "unit": "s"}
    return metrics, occurrences
