"""Correctness checks the benchmark runs outside its timed regions.

Each check returns a list of mismatch descriptions; an empty list passes.
The comparison helpers are pure functions over Python rows so the tests
can feed them corrupted rows directly.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

TIER_VALUE_COLS = ("cnt", "cnt_lat", "vmin", "vmax", "vsum", "vmean")
REL_TOL = 1e-9


def _norm(v):
    """Comparable form of a cell: NaN -> None, map entries -> sorted tuple."""
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, list):
        return tuple(sorted(tuple(x) if isinstance(x, (list, tuple)) else x
                            for x in v))
    return v


def _same(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def rows_mismatches(got: list[dict], want: list[dict], key: tuple,
                    cols: tuple, what: str, limit: int = 5) -> list[str]:
    """Compare two row sets keyed by ``key`` on ``cols``."""
    g = {tuple(r[k] for k in key): r for r in got}
    w = {tuple(r[k] for k in key): r for r in want}
    out = []
    for k in sorted(set(g) | set(w), key=repr):
        if k not in g or k not in w:
            out.append(f"{what}: key {k} only in {'engine' if k in g else 'reference'}")
        else:
            bad = [c for c in cols if not _same(g[k][c], w[k][c])]
            if bad:
                out.append(f"{what}: key {k} differs in {bad}: "
                           f"{[g[k][c] for c in bad]} vs {[w[k][c] for c in bad]}")
        if len(out) >= limit:
            break
    return out


# ------------------------------------------------------------ tier rollups

def oracle_turns(raw: pa.Table, conv_ids: list[str],
                 max_epoch: int | None = None) -> dict[str, list[dict]]:
    """Sorted turns per conversation, as ``reference_oracle.rollup_tiers``
    takes them."""
    t = raw.filter(pc.is_in(raw["conv_id"], pa.array(conv_ids)))
    epochs = pc.divide(t["ts"].cast(pa.int64()), 1_000_000).to_numpy()
    if max_epoch is not None:
        keep = epochs <= max_epoch
        t, epochs = t.filter(pa.array(keep)), epochs[keep]
    out: dict[str, list[dict]] = {}
    order = np.lexsort((t["turn_idx"].to_numpy(), t["conv_id"].to_numpy(zero_copy_only=False)))
    conv, role, tool = (t[c].to_pylist() for c in ("conv_id", "role", "tool"))
    for i in order:
        out.setdefault(conv[i], []).append(
            {"epoch": int(epochs[i]), "role": role[i], "tool": tool[i]})
    return out


def tier_mismatches(engine_rows: list[dict], oracle: dict[str, dict]) -> list[str]:
    """Engine tier rows (conv_id, tier, bucket, cnt..vmean, role_dist,
    tool_dist) against ``{conv_id: rollup_tiers(turns)}``."""
    want = [
        {"conv_id": c, "tier": tier, "bucket": b, **row}
        for c, tiers in oracle.items()
        for tier, buckets in tiers.items()
        for b, row in buckets.items()
    ]
    return rows_mismatches(engine_rows, want, ("conv_id", "tier", "bucket"),
                           TIER_VALUE_COLS + ("role_dist", "tool_dist"),
                           "tier vs oracle")


def check_tiers(spark, mt, raw: pa.Table, conv_ids: list[str],
                max_epoch: int | None = None) -> list[str]:
    from pyspark.sql import functions as F

    from oracle.reference_oracle import rollup_tiers

    oracle = {c: rollup_tiers(turns)
              for c, turns in oracle_turns(raw, conv_ids, max_epoch).items()}
    rows = []
    for tier in ("1m", "1h", "1d"):
        df = mt.read_tier(spark, tier).filter(F.col("conv_id").isin(conv_ids))
        rows += df.toArrow().to_pylist()
    return tier_mismatches(rows, oracle)


def check_compressed(got: pa.Table, spark, mt, tier: str, lo: int,
                     hi: int) -> list[str]:
    """A ``read_tier_compressed`` result against the numeric columns of
    ``read_tier`` over the same range."""
    want = mt.read_tier(spark, tier, lo=lo, hi=hi).toArrow().to_pylist()
    return rows_mismatches(got.to_pylist(), want, ("conv_id", "bucket"),
                           TIER_VALUE_COLS, f"compressed {tier}")


def check_realtime(got: pa.Table, spark, mt, tier: str, lo: int,
                   hi: int) -> list[str]:
    """A pre-refresh ``read_realtime`` result against the tier read over the
    same range after the refresh."""
    want = mt.read_tier(spark, tier, lo=lo, hi=hi).toArrow().to_pylist()
    return rows_mismatches(got.to_pylist(), want, ("conv_id", "bucket"),
                           TIER_VALUE_COLS + ("role_dist", "tool_dist"),
                           f"realtime {tier}")


# ------------------------------------------------------------ formulas

def _bucket_day(e: str, tz: str = "Europe/Madrid") -> str:
    """Madrid calendar day of an epoch with the reference's minute-0 shift
    (an on-hour minute belongs to the previous period)."""
    em = f"(60*(({e})//60))"
    shifted = f"(CASE WHEN {em} % 3600 = 0 THEN {em} - 60 ELSE {em} END)"
    return (f"CAST(floor(epoch(timezone('{tz}', date_trunc('day', "
            f"timezone('{tz}', to_timestamp({shifted})))))) AS BIGINT)")


def _grid(pts: str, lo: int, hi: int, step: int = 3600) -> str:
    """LOCF + back-fill onto the [lo, hi] grid (get_variable's distribute)."""
    return f"""
pts AS ({pts}),
grid AS (SELECT unnest(generate_series({lo}, {hi}, {step})) AS epoch,
                CAST(NULL AS DOUBLE) AS value, 1 AS g),
u AS (SELECT epoch, value, 0 AS g FROM pts UNION ALL SELECT * FROM grid),
padded AS (SELECT epoch, g, last_value(value IGNORE NULLS) OVER
    (ORDER BY epoch, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pad
    FROM u),
dist AS (SELECT epoch, first_value(pad IGNORE NULLS) OVER
    (ORDER BY epoch ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value
    FROM padded WHERE g = 1)"""


def _points(path: str, series: int, lo: int, hi: int) -> str:
    return (f"SELECT CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value "
            f"FROM read_parquet('{path}') WHERE user_id = {series} "
            f"AND floor(epoch(ts)) >= {lo} AND floor(epoch(ts)) <= {hi}")


AGG_SQL = {"inner_sum": "sum", "inner_mean": "avg", "inner_max": "max",
           "inner_min": "min"}


def formula_sql(req: dict, path: str) -> str:
    """DuckDB statement computing the same answer as ``req['text']``."""
    lo, hi = req["now"] - 604800, req["now"]
    if req["kind"] == "split_agg":
        return f"""WITH {_grid(_points(path, req['series'][0], lo, hi), lo, hi)}
SELECT max(epoch) AS epoch, {AGG_SQL[req['agg']]}(value) AS value FROM dist
WHERE EXISTS (SELECT 1 FROM pts) GROUP BY {_bucket_day('epoch')}"""
    if req["kind"] == "usage":
        cum = (f"SELECT epoch, sum(value) OVER (ORDER BY epoch ROWS BETWEEN "
               f"UNBOUNDED PRECEDING AND CURRENT ROW) AS value FROM ("
               f"SELECT CAST(floor(epoch(ts)) AS BIGINT) AS epoch, sum(value) "
               f"AS value FROM read_parquet('{path}') WHERE user_id = "
               f"{req['series'][0]} GROUP BY 1)")
        pts = (f"SELECT * FROM ({cum}) WHERE epoch >= {lo} AND epoch <= {hi} "
               f"UNION ALL (SELECT * FROM ({cum}) WHERE epoch < {lo} "
               f"ORDER BY epoch DESC LIMIT 1)")
        return f"""WITH {_grid(pts, lo, hi)},
inc AS (SELECT epoch, value, lag(value) OVER (ORDER BY epoch) AS prev FROM dist)
SELECT max(epoch) AS epoch,
       sum(CASE WHEN prev > value THEN value ELSE value - prev END) AS value
FROM inc WHERE prev IS NOT NULL GROUP BY {_bucket_day('epoch')}"""
    if req["kind"] == "product":
        a, b = req["series"]
        ga = _grid(_points(path, a, lo, hi), lo, hi)
        gb = _grid(_points(path, b, lo, hi), lo, hi)
        return f"""WITH a AS (WITH {ga} SELECT * FROM dist),
b AS (WITH {gb} SELECT * FROM dist)
SELECT a.epoch, a.value * b.value AS value FROM a JOIN b USING (epoch)"""
    raise ValueError(req["kind"])


def check_formula(got: pa.Table, req: dict, events_path: str) -> list[str]:
    import duckdb

    con = duckdb.connect()
    try:
        cur = con.execute(formula_sql(req, events_path))
        names = [d[0] for d in cur.description]
        want = [dict(zip(names, r)) for r in cur.fetchall()]
    finally:
        con.close()
    return rows_mismatches(got.to_pylist(), want, ("epoch",), ("value",),
                           f"formula {req['kind']}")
