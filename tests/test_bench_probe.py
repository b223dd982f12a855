"""Host-probe readings in the bench harness: a failed probe reads as
unknown, never as a quiet host (no Spark needed)."""

import importlib.util
import os

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
    quiet = {"steal_pct": 0.2, "memcpy_gbps": 14.1}
    assert gate.host_reading([quiet, quiet]) == "quiet"
    assert gate.host_reading([quiet, {"steal_pct": 12.0, "memcpy_gbps": 14.0}]) == "noisy"
    assert gate.host_reading([{"steal_pct": 0.0, "memcpy_gbps": 8.1}, quiet]) == "noisy"
    # a failed probe (probe_steal's error record) or a missing memcpy half
    assert gate.host_reading([quiet, {"steal_pct": None, "error": "boom"}]) == "unknown"
    assert gate.host_reading([{"steal_pct": 0.1, "memcpy_gbps": None}, quiet]) == "unknown"
    assert gate.host_reading([None, quiet]) == "unknown"
    # a known contended reading stays noisy even when the other is missing
    assert gate.host_reading([{"steal_pct": 20.0, "memcpy_gbps": None}, quiet]) == "noisy"


@pytest.mark.parametrize("exc", [MemoryError, ImportError])
def test_memcpy_probe_returns_none_when_buffers_fail(monkeypatch, exc):
    import numpy as np

    probe = _load("bench/steal_probe.py")

    def fail(*a, **k):
        raise exc("no buffer")

    monkeypatch.setattr(np, "ones", fail)
    assert probe._memcpy_gbps(mb=1) is None
