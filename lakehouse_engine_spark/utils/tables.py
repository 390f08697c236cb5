"""Test-data table loader — normalizes parquet quirks.

The driver's synthetic tables store ``events.ts`` as TIMESTAMP(NANOS), which
Spark reads as long only under ``spark.sql.legacy.parquet.nanosAsLong``.
This loader converts any such column to a microsecond timestamp so engine
queries and the DuckDB oracle see the same values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# columns stored as TIMESTAMP(NANOS) in the driver's parquet
_NANOS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table, converting nanos-long columns to timestamps."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANOS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # integer DIV keeps full precision — a double division loses the
            # low microseconds at 1e18-nanos magnitudes
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"CAST(`{c}` DIV 1000 AS LONG)")))
    return df

