"""Canonical parquet table loading for the driver-generated testdata.

Parquet is the engine's canonical storage (columnar, predicate/projection
pushdown, partition pruning) — replacing the reference's fbin/ibin flat
files (``io_utils.py:7-68`` in the reference).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS) which Spark rejects unless
        # this (runtime-settable) conf maps it to long. Set here too so the
        # engine works under a caller-provided vanilla session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (see session.py); truncate to µs —
        # Spark's native timestamp precision. Exact integer division: '/'
        # on bigint is double division and epoch-nanos exceed 2^53, which
        # would round sub-µs timestamps by ±1µs vs the DuckDB oracle.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables and register them as temp views."""
    out = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
