"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import compare  # noqa: E402
import hostprobe  # noqa: E402
import spans  # noqa: E402
from metrics import Tally, check_name, check_unit, tail, tree_cpu_s  # noqa: E402

from oracle.reference_oracle import rollup_tiers  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ tail rule

@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_eleven_samples(n):
    assert tail([float(i) for i in range(n)]) is None


@pytest.mark.parametrize("n,pct", [(11, 9), (20, 50), (40, 75), (100, 90),
                                   (1000, 99)])
def test_tail_percentile(n, pct):
    vals = [float(i) for i in range(n)]
    p, value, beyond = tail(vals)
    assert p == pct
    assert beyond >= 10
    assert sum(v > value for v in vals) == beyond


def test_tail_is_highest_percentile_with_ten_beyond():
    for n in range(11, 400):
        vals = [float(i) for i in range(n)]
        p, _, beyond = tail(vals)
        assert beyond >= 10
        # one percentile higher would leave fewer than 10 beyond it
        k_next = -(-(p + 1) * n // 100)
        assert n - k_next < 10


def test_tail_ignores_input_order():
    assert tail([5.0, 1.0, 9.0] * 7) == tail(sorted([5.0, 1.0, 9.0] * 7))


# ------------------------------------------------------------ failures

def test_failure_counting():
    t = Tally()
    for ok in (True, True, False, True):
        t.record(ok, "" if ok else "boom")
    t.fail_checked("tier vs oracle mismatch")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert t.errors == ["boom", "tier vs oracle mismatch"]


def test_nothing_attempted_is_a_failure():
    assert Tally().failed_frac == 1.0


# ------------------------------------------------------------ tier checker

def _turns():
    epochs = [0, 20, 50, 61, 3600, 3700, 90000]
    roles = ["user", "assistant", "tool", "user", "assistant", "tool", "user"]
    tools = [None, None, "exec", None, None, "search", None]
    return [{"epoch": e, "role": r, "tool": t}
            for e, r, t in zip(epochs, roles, tools)]


def _engine_rows(oracle: dict) -> list[dict]:
    """Oracle rows in the shape a tier read returns (maps as entry lists)."""
    rows = []
    for conv, tiers in oracle.items():
        for tier, buckets in tiers.items():
            for b, row in buckets.items():
                r = {"conv_id": conv, "tier": tier, "bucket": b, **row}
                r["role_dist"] = sorted(row["role_dist"].items())
                r["tool_dist"] = sorted(row["tool_dist"].items())
                rows.append(r)
    return rows


def test_checker_accepts_matching_tiers():
    oracle = {"conv_a": rollup_tiers(_turns())}
    assert checks.tier_mismatches(_engine_rows(oracle), oracle) == []


@pytest.mark.parametrize("corrupt", ["vsum", "cnt", "role_dist", "drop", "extra"])
def test_checker_catches_corrupted_tier_row(corrupt):
    oracle = {"conv_a": rollup_tiers(_turns())}
    rows = copy.deepcopy(_engine_rows(oracle))
    victim = next(r for r in rows if r["tier"] == "1m" and r["cnt_lat"])
    if corrupt == "vsum":
        victim["vsum"] += 1e-6
    elif corrupt == "cnt":
        victim["cnt"] += 1
    elif corrupt == "role_dist":
        victim["role_dist"] = [("user", 99)]
    elif corrupt == "drop":
        rows.remove(victim)
    else:
        rows.append({**victim, "bucket": victim["bucket"] + 7 * 86400})
    assert checks.tier_mismatches(rows, oracle)


def test_checker_treats_nan_and_null_alike():
    a = [{"k": 1, "v": float("nan")}]
    b = [{"k": 1, "v": None}]
    assert checks.rows_mismatches(a, b, ("k",), ("v",), "t") == []
    assert checks.rows_mismatches(a, [{"k": 1, "v": 0.0}], ("k",), ("v",), "t")


def test_formula_sql_covers_every_class():
    for kind, series in (("split_agg", [1]), ("usage", [1]), ("product", [1, 2])):
        sql = checks.formula_sql({"kind": kind, "series": series,
                                  "now": 1706659200, "agg": "inner_max"},
                                 "events.parquet")
        assert "read_parquet('events.parquet')" in sql


# ------------------------------------------------------------ names

def test_metric_names():
    for name in ("setup_s", "materialize.read_tier_compressed.exec_s",
                 "materialize.refresh.1m_s", "a-b.c_9"):
        assert check_name(name) == name
    for bad in ("", "_lead", "has space", "semi;colon", "x" * 65, "é"):
        with pytest.raises(ValueError):
            check_name(bad)


def test_benchmark_json_names_and_units():
    spec = _spec()
    names = ([w["name"] for w in spec["workloads"]]
             + [m["name"] for m in spec["end_to_end"]]
             + [m["name"] for m in spec["per_layer"]])
    assert len(names) == len(set(names))
    for n in names:
        check_name(n)
    for m in spec["end_to_end"] + spec["per_layer"]:
        check_unit(m["unit"])


def test_benchmark_json_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["per_layer"]) <= 128
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        assert m["bound"] <= setup[0]["bound"]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"]
        assert len(w["why"]) <= 200


def test_per_layer_list_matches_tracer():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        spans.per_layer_metrics()


# ------------------------------------------------------------ SQL metrics

@pytest.mark.parametrize("text,value", [
    ("14 ms", 0.014),
    ("10.5 KiB", 10.5 * 1024),
    ("200,000", 200000.0),
    ("total (min, med, max (stageId: taskId))\n3.1 MiB (391.3 KiB, 391.3 KiB, "
     "391.3 KiB (stage 0.0: task 3))", 3.1 * (1 << 20)),
    ("total (min, med, max (stageId: taskId))\n1.2 s (431 ms, 5.7 s, 5.7 s "
     "(stage 0.0: task 3))", 1.2),
])
def test_parse_sql_metric(text, value):
    assert spans.parse_sql_metric(text) == pytest.approx(value)


# ------------------------------------------------------------ closed loop

def test_closed_loop_runs_the_gated_operations_past_the_window():
    import types

    import workloads

    calls = []
    ctx = types.SimpleNamespace(tally=Tally())
    workloads.closed_loop(ctx, 0.0, lambda: calls.append(1))
    assert len(calls) == workloads.GATED_OPS
    calls.clear()
    workloads.closed_loop(ctx, 0.0, lambda: calls.append(1) or False)
    assert len(calls) == 1  # an exhausted workload stops the loop


# ------------------------------------------------------------ CPU reading

def test_tree_cpu_counts_children_it_reaped():
    import subprocess

    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3:\n    pass\n")
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.25


# ------------------------------------------------------------ host probe

def test_probe_verdicts():
    ref = {"memcpy_gbps": 10.0, "cpu_mips": 20.0}
    assert hostprobe.verdict(0.1, 10.0, 20.0, ref) == "quiet"
    assert hostprobe.verdict(None, 10.0, 20.0, ref) == "unknown"
    assert hostprobe.verdict(0.1, None, 20.0, ref) == "unknown"
    assert hostprobe.verdict(0.1, 10.0, None, ref) == "unknown"
    assert hostprobe.verdict(0.1, 10.0, 20.0, {}) == "unknown"
    assert hostprobe.verdict(12.0, None, None, {}) == "noisy"
    assert hostprobe.verdict(0.1, 5.0, 20.0, ref) == "noisy"
    assert hostprobe.verdict(0.1, 10.0, 9.0, ref) == "noisy"


def test_probe_failure_reads_unknown(monkeypatch):
    import numpy as np

    def no_memory(*a, **k):
        raise MemoryError

    monkeypatch.setattr(np, "ones", no_memory)
    assert hostprobe.memcpy_gbps() is None
    monkeypatch.setattr(hostprobe, "cpu_reading", lambda: (0.0, 20.0))
    assert hostprobe.reading()["verdict"] == "unknown"


# ------------------------------------------------------------ comparison

def _record(cpus=4, size="s1", workload="maintain", op=1.0, trace_on=0,
            code="c1"):
    return {
        "workload": workload, "trace": trace_on, "code": code,
        "shape": {"cpus": cpus, "shuffle_partitions": 2 * cpus,
                  "driver_memory": "2g"},
        "inputs": {"size": size},
        "end_to_end": {m["name"]: {"value": op} for m in _spec()["end_to_end"]},
        "per_layer": {"workload.op_p50_s": {"value": op * 1.01}},
        "samples": {"op_s": {"p50": op}},
    }


def test_compare_refuses_cross_shape():
    with pytest.raises(ValueError):
        compare.compare([_record(cpus=4)], [_record(cpus=32)], _spec())
    with pytest.raises(ValueError):
        compare.compare([_record(size="a")], [_record(size="b")], _spec())


def test_compare_refuses_mixed_code_on_one_side():
    base = [_record(), _record(op=1.1, trace_on=1, code="c0")]
    with pytest.raises(ValueError):
        compare.compare(base, [_record(code="c2")], _spec())
    # different code across the two sides is the point of a comparison
    assert compare.compare([_record(code="c1")], [_record(code="c2")], _spec())


def test_compare_flags_regression_and_overhead():
    base = [_record(op=1.0), _record(op=1.0), _record(op=1.0, trace_on=1)]
    new = [_record(op=2.0), _record(op=2.0)]
    out = "\n".join(compare.compare(base, new, _spec()))
    assert "WORSE" in out
    assert "tracing overhead (base)" in out
