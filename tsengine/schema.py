"""Canonical StructType of the series plane (SURVEY.md §1.2, FIXTURES.md).

The reference enforces shape at runtime with ``check_ts``
(timeseries_functions.py:70-90); here the schema system IS the contract.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The long-format timeseries plane: reference ts_list -> one DataFrame.
SERIES = T.StructType(
    [
        T.StructField("series_id", T.LongType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)
