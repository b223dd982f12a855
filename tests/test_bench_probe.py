"""The bench gate: host verdicts come from perfbench/hostprobe.py, a failed
probe reads as unknown, never as a quiet host, and a run is compared only
with a baseline of its own box shape (no Spark needed)."""

import importlib.util
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(rel):
    spec = importlib.util.spec_from_file_location(
        os.path.basename(rel)[:-3], os.path.join(REPO, rel)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_host_reading_quiet_noisy_unknown():
    gate = _load("scripts/bench_gate.py")
    quiet, noisy, unknown = ({"verdict": v} for v in ("quiet", "noisy", "unknown"))
    assert gate.host_reading([quiet, quiet]) == "quiet"
    assert gate.host_reading([quiet, noisy]) == "noisy"
    assert gate.host_reading([unknown, noisy]) == "noisy"
    # a known contended reading stays noisy beside a probe that raised
    assert gate.host_reading([noisy, None]) == "noisy"
    assert gate.host_reading([quiet, unknown]) == "unknown"
    assert gate.host_reading([None, quiet]) == "unknown"


def test_gate_probe_judges_against_host_reference(monkeypatch):
    """A reading is judged against this host's reference: memcpy and loop
    speed at 80 % of it with little steal read quiet, and a probe that
    raises reads unknown."""
    gate = _load("scripts/bench_gate.py")
    hp = gate.hostprobe
    ref = {"memcpy_gbps": 10.61, "cpu_mips": 3.92}
    monkeypatch.setattr(hp, "reference", lambda key: ref)
    monkeypatch.setattr(hp, "memcpy_gbps", lambda: 0.8 * 10.61)
    monkeypatch.setattr(hp, "cpu_reading", lambda: (4.9, 0.8 * 3.92))
    reading = gate.probe()
    assert reading["verdict"] == "quiet"
    assert gate.host_reading([reading, reading]) == "quiet"
    monkeypatch.setattr(hp, "cpu_reading", lambda: (5.0, 3.92))
    assert gate.probe()["verdict"] == "noisy"

    def boom():
        raise RuntimeError("probe failed")

    monkeypatch.setattr(hp, "reading", boom)
    assert gate.probe() is None
    assert gate.host_reading([reading, gate.probe()]) == "unknown"


def _bench(path, cpus, sf, secs):
    path.write_text(json.dumps(
        {"cpus": cpus, "sf": sf, "parsed": {"cpus": cpus, "sf": sf,
                                            "queries": {"q_usage_day": secs}}}))


def test_gate_compares_like_for_like_only(tmp_path, monkeypatch, capsys):
    gate = _load("scripts/bench_gate.py")
    monkeypatch.setattr(gate, "REPO", str(tmp_path))
    _bench(tmp_path / "BENCH_r05.json", 32, 0.1, 2.0)
    current = tmp_path / "current.json"
    current.write_text(json.dumps(
        {"cpus": 4, "sf": 0.1, "queries": {"q_usage_day": 9.0}}))
    monkeypatch.setattr(sys, "argv", ["bench_gate.py", "--compare", str(current)])
    with pytest.raises(SystemExit,
                       match=r"no like-for-like baseline \(cpus=4, sf=0\.1\)") as e:
        gate.main()
    assert e.value.code != 0
    assert not (tmp_path / "BENCH").exists()

    # the newest baseline of the same shape wins over newer ones of another
    _bench(tmp_path / "BENCH_r03.json", 4, 0.1, 8.0)
    _bench(tmp_path / "BENCH_r10.json", 4, 0.01, 1.0)
    path, queries = gate.latest_baseline(4, 0.1)
    assert os.path.basename(path) == "BENCH_r03.json"
    assert queries == {"q_usage_day": 8.0}
    (tmp_path / "BENCH").mkdir()
    assert gate.main() == 0
    assert "baseline: BENCH_r03.json" in capsys.readouterr().out


def test_gate_refuses_before_running_the_bench(tmp_path, monkeypatch):
    """In run mode the shape comes from the bench's environment, so with no
    like-for-like baseline the gate refuses without running bench.py or the
    host probe."""
    gate = _load("scripts/bench_gate.py")
    monkeypatch.setattr(gate, "REPO", str(tmp_path))
    _bench(tmp_path / "BENCH_r05.json", 32, 0.1, 2.0)

    def must_not_run():
        raise AssertionError("ran before refusing")

    monkeypatch.setattr(gate, "run_bench", must_not_run)
    monkeypatch.setattr(gate, "probe", must_not_run)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1/")
    monkeypatch.setattr(sys, "argv", ["bench_gate.py"])
    with pytest.raises(SystemExit,
                       match=r"no like-for-like baseline \(cpus=4, sf=0\.1\)") as e:
        gate.main()
    assert e.value.code != 0
    assert not (tmp_path / "BENCH").exists()
