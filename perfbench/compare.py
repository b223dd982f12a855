"""Compare two sets of benchmark results, like for like.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result records as ``run.py`` writes them
(``.perfbench_work/results/*.json``; copy them aside between commits).
Runs are grouped by workload.  The comparison is refused (exit 2) when any
two runs differ in box shape or input size, since a 4-core number judged
against a 32-core one says nothing, or when one side mixes runs of
different code (the source digest ``run.py`` records).  For each end-to-end
metric it prints both medians, each side's spread (inter-quartile distance
over the median) and the change, and flags a change worse than the
metric's bound in ``BENCHMARK.json``.  When traced runs are present it also
prints each side's tracing overhead: traced minus untraced median
operation wall time, both of the same code.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from metrics import spread

HERE = os.path.dirname(os.path.abspath(__file__))
SHAPE_KEYS = ("cpus", "shuffle_partitions", "driver_memory")


def shape_of(rec: dict) -> tuple:
    return tuple(rec["shape"][k] for k in SHAPE_KEYS) + (rec["inputs"]["size"],)


def check_like_for_like(records: list[dict]) -> None:
    """Raise ValueError unless every record has the same shape and size."""
    shapes = {shape_of(r) for r in records}
    if len(shapes) > 1:
        raise ValueError(f"runs differ in box shape or input size: {sorted(shapes)}")


def check_one_code(side: str, records: list[dict]) -> None:
    """Raise ValueError unless every record of one side ran the same code."""
    codes = {r.get("code") for r in records}
    if len(codes) > 1:
        raise ValueError(f"{side} runs come from different code: {sorted(map(str, codes))}")


def load(d: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if "workload" in rec and "end_to_end" in rec:
            out.append(rec)
    return out


def compare(base: list[dict], new: list[dict], spec: dict) -> list[str]:
    check_like_for_like(base + new)
    check_one_code("base", base)
    check_one_code("new", new)
    lines = []
    for workload in sorted({r["workload"] for r in base + new}):
        b0 = [r for r in base if r["workload"] == workload and not r["trace"]]
        n0 = [r for r in new if r["workload"] == workload and not r["trace"]]
        lines.append(f"{workload}: {len(b0)} base runs, {len(n0)} new runs")
        for m in spec["end_to_end"]:
            bv = [r["end_to_end"][m["name"]]["value"] for r in b0]
            nv = [r["end_to_end"][m["name"]]["value"] for r in n0]
            if not bv or not nv:
                continue
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            lines.append(
                f"  {m['name']:<22} base {bm:.6g} (spread {spread(bv):.3f})  "
                f"new {nm:.6g} (spread {spread(nv):.3f})  change {change:+.3%}"
                f"{'  WORSE than bound ' + str(m['bound']) if worse else ''}")
        for side, recs in (("base", base), ("new", new)):
            traced = [r["per_layer"]["workload.op_p50_s"]["value"] for r in recs
                      if r["workload"] == workload and r["trace"]]
            plain = [r["samples"]["op_s"]["p50"] for r in recs
                     if r["workload"] == workload and not r["trace"]]
            if traced and plain:
                lines.append(
                    f"  tracing overhead ({side}): "
                    f"{statistics.median(traced) - statistics.median(plain):+.4g} s "
                    f"on a median operation of {statistics.median(plain):.4g} s")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        lines = compare(load(argv[0]), load(argv[1]), spec)
    except ValueError as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
