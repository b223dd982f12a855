"""Local replica of the driver's correctness gate: run each queries() entry
via Spark AND its oracle_sql() via DuckDB on the same parquet tables, compare
row-count + column names + (order-insensitive) values.

Comparison contract (scale-proof, VERDICT r04 task 1)
-----------------------------------------------------
Default: every value is normalised to a canonical string (floats at 6 dp,
NaN folded, -0.0 == 0.0) and row multisets must match EXACTLY.

Float-tolerant class: a small, named set of queries (FLOAT_TOLERANT below)
whose pipelines chain float multiplies-and-adds over long per-series chains —
linear interpolation slopes, exponential decays (ewma/holt recursions),
trapezoid integrals.  DuckDB contracts those into fused multiply-adds (FMA)
while the JVM evaluates strict IEEE doubles; each step's last-bit difference
compounds through the recursion, so at large SF a ≤15 ppm subset of rows
drifts by up to ~1e-6 — one unit in the 6th decimal (commit 200a018; raw-bit
inspection at sf0.1 confirms the drift is accumulated, e.g. ewma values
differing by exactly 1e-6 at magnitude ~37).  That is cross-engine
instruction-selection noise, not a semantics difference, so for exactly these
queries the contract is:

  * rows are PAIRED by a coarse sort key (floats rendered at 4 dp) and
    zip-compared; any residual unmatched rows from pairing instability are
    greedily re-matched as a multiset (O(k²) over the ≤ppm-scale remainder),
    so drift can never manufacture a mismatch by reordering the pairing;
  * matched float values must agree to 5 significant decimal digits:
    math.isclose(rel_tol=1e-5, abs_tol=1e-5) — the digit count VERDICT r04
    prescribed as "where doubles agree", with headroom for the drift growing
    with per-series chain length at sf1.0; non-float values must still match
    exactly.

Any real bug (a wrong bracket, a swapped bound, an off-by-one-row error)
moves results by whole units — orders of magnitude outside 1e-5 — and the
class is enumerated per query, never blanket.  Every query outside the class
keeps the exact 6-dp string contract.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Checks the engine of the checkout the script sits in, from any working
directory; Spark is sized from the box by ``get_spark``.
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# query -> (rel_tol, abs_tol) per float value (see module docstring).
FLOAT_TOLERANT = {
    "q_distribute_linear": (1e-5, 1e-5),
    "q_ewma": (1e-5, 1e-5),
    "q_holt": (1e-5, 1e-5),
    "q_derivative_integral": (1e-5, 1e-5),
}


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0 and float repr noise
        return f"{v:.6f}"
    return str(v)


def norm_coarse(v):
    """Sort key for the float-tolerant pairing: floats at 4 dp so 6th-decimal
    drift cannot change the pairing order."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.4f}"
    return str(v)


def _vals_close(a, b, rel_tol: float, abs_tol: float) -> bool:
    af, bf = isinstance(a, float), isinstance(b, float)
    if af and bf:
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel_tol, abs_tol=abs_tol)
    if af or bf:
        return False
    return str(a) == str(b)


def _coerce(row):
    """numpy scalars from duckdb's fetch_df -> python scalars."""
    out = []
    for v in row:
        item = getattr(v, "item", None)
        out.append(item() if item is not None and type(v).__module__ == "numpy" else v)
    return tuple(out)


def compare(name, spark_raw, duck_raw):
    """Return (n_mismatch, first_example) under the contract for `name`."""
    tol = FLOAT_TOLERANT.get(name)
    if tol is None:
        srows = sorted(tuple(norm(v) for v in r) for r in spark_raw)
        drows = sorted(tuple(norm(v) for v in r) for r in duck_raw)
        mism = [(a, b) for a, b in zip(srows, drows) if a != b]
        return len(mism), (mism[0] if mism else None)
    # float-tolerant: pair by coarse key, compare values within tolerance
    rel_tol, abs_tol = tol
    srows = sorted(spark_raw, key=lambda r: tuple(norm_coarse(v) for v in r))
    drows = sorted(duck_raw, key=lambda r: tuple(norm_coarse(v) for v in r))
    def row_close(a, b):
        return len(a) == len(b) and all(
            _vals_close(x, y, rel_tol, abs_tol) for x, y in zip(a, b)
        )

    left_a, left_b = [], []
    for a, b in zip(srows, drows):
        if not row_close(a, b):
            left_a.append(a)
            left_b.append(b)
    # pairing-instability rescue: greedy multiset re-match of the residue
    # (≤ ppm of rows, so O(k²) is free)
    mism = []
    for a in left_a:
        hit = next((i for i, b in enumerate(left_b) if row_close(a, b)), None)
        if hit is None:
            mism.append((tuple(norm(v) for v in a), None))
        else:
            left_b.pop(hit)
    for b in left_b:
        mism.append((None, tuple(norm(v) for v in b)))
    return len(mism), (mism[0] if mism else None)


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from tsengine.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # the Python workers import this checkout's tsengine too
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()

    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            spark_raw = [tuple(r[c] for c in scols) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {e}")
            continue
        if sql is None:
            print(f"[rows-only] {name}: {len(spark_raw)} rows, cols={scols}")
            continue
        try:
            ddf = con.execute(sql).fetch_df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duckdb] {name}: {e}")
            continue
        dcols = sorted(ddf.columns)
        duck_raw = [
            _coerce(row) for row in ddf[dcols].itertuples(index=False, name=None)
        ]
        if scols != dcols:
            failures.append((name, f"schema {scols} != {dcols}"))
            print(f"[FAIL-schema] {name}: {scols} != {dcols}")
            continue
        if len(spark_raw) != len(duck_raw):
            failures.append((name, f"rowcount {len(spark_raw)} != {len(duck_raw)}"))
            print(f"[FAIL-count] {name}: {len(spark_raw)} != {len(duck_raw)}")
            continue
        n_mism, first = compare(name, spark_raw, duck_raw)
        if n_mism:
            failures.append((name, f"{n_mism} mismatched rows, first: {first}"))
            print(f"[FAIL-values] {name}: {n_mism}/{len(spark_raw)} rows differ; first: {first}")
        else:
            tag = "OK-tol" if name in FLOAT_TOLERANT else "OK"
            print(f"[{tag}] {name}: {len(spark_raw)} rows")
    print(f"\n{len(failures)} failures")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
