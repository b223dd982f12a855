"""Skew handling for hot conversations (BASELINE.json north_rule: "salted
repartitioning for hot conversations").

At 10^12 turns a few conv_ids can carry 100x the median turn count (the
synth generator reproduces this, tsengine/synth.py).  Two mechanisms:

- AQE skew-join/partition splitting: enabled session-wide (tsengine.session).
- Explicit salting for aggregations whose keys are hot: two-phase aggregate
  (salted partial -> final merge), safe for count/min/max/sum — exactly the
  tier-rollup aggregate set (mean = sum/count at the end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsengine.operators.rollup import mean_col


def add_salt(df: DataFrame, key: str = "conv_id", buckets: int = 16,
             salt_col: str = "_salt", by: str = "turn_idx") -> DataFrame:
    """Deterministic salt: pmod(hash(by), buckets) — spreads one hot key's
    rows over `buckets` reducers."""
    return df.withColumn(salt_col, F.pmod(F.hash(F.col(by)), F.lit(buckets)))


def hot_keys(df: DataFrame, key: str = "conv_id", threshold_factor: float = 10.0) -> DataFrame:
    """Keys whose row count exceeds threshold_factor x median — candidates
    for salting.  One cheap aggregate."""
    counts = df.groupBy(key).count()
    med = counts.approxQuantile("count", [0.5], 0.01)[0]
    return counts.filter(F.col("count") > threshold_factor * med).select(key, "count")


def salted_rollup(turns: DataFrame, width: int, buckets: int = 16) -> DataFrame:
    """Two-phase tier rollup for skewed conv_ids: partial aggregate on
    (conv_id, bucket, salt), then merge on (conv_id, bucket).

    Produces EXACTLY the same rows as rollup.rollup_raw_to_tier's core
    aggregate (integer-sum latencies -> order-insensitive), demonstrated by
    tests/test_skew.py.  The map distributions go through the same two-phase
    key-count path.
    """
    b = turns.withColumn(
        "bucket", (F.lit(width) * F.floor(F.col("epoch") / F.lit(width))).cast("long")
    )
    b = add_salt(b, buckets=buckets)
    partial = b.groupBy("conv_id", "bucket", "_salt").agg(
        F.count("*").alias("cnt"),
        F.count("value").alias("cnt_lat"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum("value").alias("vsum"),
    )
    final = partial.groupBy("conv_id", "bucket").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("cnt_lat").alias("cnt_lat"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("vsum").alias("vsum"),
    )
    return final.withColumn("vmean", mean_col())

