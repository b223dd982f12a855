"""Driver-contract query registry: one ``q_*`` builder per engine operator,
each over the driver's parquet tables, with its DuckDB oracle SQL beside it.

The registry demonstrates ``tsengine`` and checks it against an independent
engine; the engine never imports it.  ``__spark_entry__.queries()`` and
``oracle_sql()`` order these two dicts for the driver.

- ``series``: the reference time-series operators over the events table;
- ``data``: training-data, event-analytics and tier-rollup operators;
- ``snapshots``: snapshot tables and incrementally materialized tiers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from driver_queries import data, series, snapshots

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **series.QUERIES, **data.QUERIES, **snapshots.QUERIES,
}
ORACLE: dict[str, str] = {**series.ORACLE, **data.ORACLE, **snapshots.ORACLE}
