"""Parquet table loaders for the analytics star schema.

The reference's lake is Hive-partitioned parquet read one partition at
a time by hand-built path (``spark_jobs/spark_batch_job.py:17-21``).
Here: read the base path declaratively and let Catalyst prune
partitions/files from pushed-down filters (SURVEY.md §4 row 1) —
identical I/O, plus schema stability across days.

Each fixture table is one local parquet file, and it is read with the
schema its own footer declares (``footer_schema``): the footer is read
on the driver in under a millisecond, where ``spark.read.parquet``
with no schema launches a Spark job to read it.  The schema comes
from the file, so it cannot drift from it.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema


def first_data_file(path: str) -> str:
    """``path`` if it is a file, else the first file by name directly
    under the directory ``path``, skipping ``_``/``.`` metadata files."""
    if os.path.isfile(path):
        return path
    names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    if not names:
        raise ValueError(f"no data file under {path}")
    return os.path.join(path, names[0])


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer for the
    local parquet file ``path``, or for a directory's first data file,
    taken from that file's footer on the driver.

    A timestamp without a time zone maps to TIMESTAMP_NTZ when
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on, as Spark's
    own inference does.  An INT96 column, the physical type Spark's
    own parquet writer gives a TIMESTAMP by default, maps to TIMESTAMP.
    A TIMESTAMP(NANOS) column maps to its raw nanosecond ``bigint``
    (Spark's ``nanosAsLong`` reading; Spark has no nanosecond
    timestamp), which the caller converts."""
    # INT96 is read as microseconds, so a column still in nanoseconds
    # is a true TIMESTAMP(NANOS)
    footer = pq.ParquetFile(first_data_file(path), coerce_int96_timestamp_unit="us")
    int96 = {c.path for c in footer.schema if c.physical_type == "INT96"}
    arrow = footer.schema_arrow
    for i, field in enumerate(arrow):
        if field.name in int96:
            arrow = arrow.set(i, field.with_type(pa.timestamp("us", tz="UTC")))
        elif pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            arrow = arrow.set(i, field.with_type(pa.int64()))
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with its footer schema: no Spark job until the
    frame runs.  Parquet scan → vectorized reader, pushdown-able."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(footer_schema(spark, path)).parquet(path)
