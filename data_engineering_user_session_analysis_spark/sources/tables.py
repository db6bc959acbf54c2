"""Parquet table loaders for the analytics star schema.

The reference's lake is Hive-partitioned parquet read one partition at
a time by hand-built path (``spark_jobs/spark_batch_job.py:17-21``).
Here: read the base path declaratively and let Catalyst prune
partitions/files from pushed-down filters (SURVEY.md §4 row 1) —
identical I/O, plus schema stability across days.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
    """Load one table. Parquet scan → vectorized reader, pushdown-able."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface).

    Events go through ``load_events`` (nanos-timestamp normalization
    + UTC session conf) — registering the raw file would fail on a
    fresh session before any loader has set the legacy-nanos conf."""
    from data_engineering_user_session_analysis_spark.sources.events import load_events

    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = (
                load_events(spark, sf_dir)
                if name == "events"
                else spark.read.parquet(path)
            )
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
