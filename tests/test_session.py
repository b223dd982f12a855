"""Session factory: the generated-code cache holds a request mix's working
set, so a repeated request compiles no class again, a formula plan is
built in a few hundred driver round trips, and the driver heap follows the
box's memory."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.helpers import codegen_compiles, parquet_series, py4j_commands
from tsengine import session

# literals no other test inlines, so the first pass below starts cold
_SALT = 7_340_033


def _page(spark):
    """75 small plans, each with its own inlined literal and a group-by."""
    df = spark.range(256).withColumn("g", F.col("id") % 5)
    for i in range(75):
        k = _SALT + i
        (df.where(F.col("id") > k % 200)
           .groupBy("g").agg(F.sum(F.col("id") * k)).collect())


def test_repeated_page_compiles_nothing(spark):
    """One page needs more generated classes than Spark's default cache of
    100 holds; with the engine's cache a second identical page finds them
    all and compiles none."""
    c0 = codegen_compiles(spark)
    _page(spark)
    c1 = codegen_compiles(spark)
    _page(spark)
    c2 = codegen_compiles(spark)
    assert c1 - c0 > 100
    assert c2 - c1 == 0


def _formulas(spark, tmp_path, t0):
    """The dashboard's three formula classes over a small events table:
    kind -> (engine, formula text)."""
    from tsengine.plans.api import Engine

    ev = parquet_series(spark, tmp_path / "events.parquet",
                        [(s, t0 + 900 * i, float(i % 7 + s))
                         for s in range(2) for i in range(900)])
    w = Window.partitionBy("series_id").orderBy("epoch").rowsBetween(
        Window.unboundedPreceding, 0)
    plain = Engine(spark, ev)
    meter = Engine(spark, ev.withColumn("value", F.sum("value").over(w)))
    now = t0 + 8 * 86400
    gv = "get_variable({s}; time_int = 3600; now = %d; range = last_week)" % now
    gi = "get_increments({s}; time_int = 3600; now = %d; range = last_week)" % now
    return {
        "split_agg": (plain, f"inner_max(split({gv.format(s=0)}; period = day))"),
        "usage": (meter, f"inner_sum(split({gi.format(s=0)}; period = day))"),
        "product": (plain, f"product({gv.format(s=0)}; {gv.format(s=1)})"),
    }


def test_repeated_dashboard_request_compiles_nothing(spark, tmp_path):
    """The dashboard's request mix (four downsample widths, a numeric-plane
    tier read, the three formula classes), asked twice with the same
    parameters: the second pass compiles no class."""
    from tests.test_materialize import _turns
    from tsengine.materialize import MaterializedTiers
    from tsengine.sources.snapshots import SnapshotTable

    t0 = 1_600_000_000
    src = SnapshotTable(str(tmp_path / "src"))
    mat = MaterializedTiers(src, str(tmp_path / "mat"))
    src.append(_turns(spark, ["a", "b", "c"], t0=t0, n=200, gap=1400))
    mat.refresh(spark)
    mat.freeze_tier_blocks(spark, "1h")
    lo = t0 - t0 % 86400 + 86400
    hi = lo + 2 * 86400 - 1

    requests = [
        *(lambda wd=wd: mat.read_resampled(spark, wd, lo=lo, hi=hi)
          for wd in (300, 3600, 21600, 86400)),
        lambda: mat.read_tier_compressed(spark, "1h", lo=lo, hi=hi),
        *(lambda e=engine, t=text: e.query(t)
          for engine, text in _formulas(spark, tmp_path, t0).values()),
    ]

    def page():
        return [r().toArrow().num_rows for r in requests]

    first = page()
    c1 = codegen_compiles(spark)
    assert page() == first and all(first)
    assert codegen_compiles(spark) - c1 == 0


def test_formula_plans_fit_py4j_budget(spark, tmp_path):
    """Building each of the dashboard's three formula classes (a split
    aggregate, a usage sum over a cumulative meter, a pairwise product)
    sends at most 300 py4j commands: no per-call stack capture, and each
    operator projection is one SQL expression list rather than one call
    per Column node.  Only the plan is built; nothing runs."""
    sent = {}
    for kind, (engine, text) in _formulas(spark, tmp_path, 1_600_000_000).items():
        with py4j_commands(spark) as c:
            engine.query(text)
        sent[kind] = c.n
    assert all(n <= 300 for n in sent.values()), sent


@pytest.mark.parametrize("phys_gb, heap", [
    (4, "2g"),    # half the box
    (64, "8g"),   # capped at 8 GB
    (1, "1g"),    # never below 1 GB
    (15, "7g"),   # whole GB, rounded down
])
def test_default_driver_memory_follows_box(monkeypatch, phys_gb, heap):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_gb * (1 << 30) // page}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session.default_driver_memory() == heap


def test_default_driver_memory_without_sysconf(monkeypatch):
    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unknown)
    assert session.default_driver_memory() == "8g"


def test_session_carries_engine_conf(spark):
    """A get_spark session carries every fixed engine setting, the ones the
    scaling bench passes to its spark-submit sessions too."""
    assert {k: spark.conf.get(k) for k in session.ENGINE_CONF} == session.ENGINE_CONF
