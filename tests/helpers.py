"""Test helpers: golden-vector comparison for long-format series frames."""

from __future__ import annotations

import contextlib
import gc
import math
import struct
from types import SimpleNamespace


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


def same_double(a: float, b: float) -> bool:
    """Bit-equal doubles (so -0.0 != 0.0), any NaN equal to any NaN."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return struct.pack("<d", a) == struct.pack("<d", b)


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


@contextlib.contextmanager
def py4j_commands(spark):
    """Count the py4j commands the driver sends to the JVM while open;
    ``with py4j_commands(spark) as c: ...`` then read ``c.n``.

    py4j's object-release commands (``m``) are left out and Python's garbage
    collector is paused, so the count depends on the code under test, not
    on when earlier proxies happen to be collected."""
    client = spark.sparkContext._gateway._gateway_client
    count = SimpleNamespace(n=0)
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            count.n += 1
        return send(command, *args, **kwargs)

    collecting = gc.isenabled()
    gc.disable()
    client.send_command = counting
    try:
        yield count
    finally:
        del client.send_command
        if collecting:
            gc.enable()
