"""Test helpers: golden-vector comparison for long-format series frames."""

from __future__ import annotations

import math


def rows(df, cols=("series_id", "epoch", "value")):
    """Collect to sorted python tuples for golden comparison."""
    out = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple((x is None, x) for x in t))


def assert_series_equal(df, expected, cols=("series_id", "epoch", "value"), tol=1e-9):
    """expected: iterable of tuples matching ``cols``; floats compared with tol."""
    got = rows(df, cols)
    exp = sorted(
        [tuple(e) for e in expected], key=lambda t: tuple((x is None, x) for x in t)
    )
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}\ngot={got[:20]}\nexp={exp[:20]}"
    for g, e in zip(got, exp):
        for gv, ev in zip(g, e):
            if isinstance(ev, float) and gv is not None:
                assert not (ev is None) and math.isclose(gv, ev, rel_tol=tol, abs_tol=tol), f"{g} != {e}"
            else:
                assert gv == ev, f"{g} != {e}"


# joins that pair every row with every row: never in a scale plan
RED_FLAG_JOINS = ("CartesianProduct", "BroadcastNestedLoopJoin")


def executed_plan(df) -> str:
    """The physical plan Spark would run (AQE's initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def parquet_series(spark, path, data):
    """(series_id, epoch, value) rows written to parquet and read back, so
    plans over the frame start from a ``FileScan parquet``."""
    from tsengine.core import series_frame

    series_frame(spark, data).write.parquet(str(path))
    return spark.read.parquet(str(path))


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far: the count of Spark's
    ``CodegenMetrics`` compilation-time histogram.  A source found in the
    generated-code cache is not compiled again, so the count rises only on
    cache misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
