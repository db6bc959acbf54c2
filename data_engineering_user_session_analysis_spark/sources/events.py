"""Events-table source: schema normalization at the ingest boundary.

The reference declares its event schema explicitly at the stream
boundary and fixes types there (``spark_jobs/spark_stream.py:44-54``;
its ``price``-as-String bug is corrected by casting at ingest —
SURVEY.md §2.4 A6).  Same stance here: the events fixture is one local
parquet file read with the schema of its own footer
(``sources/tables.footer_schema``), so no Spark job infers it.  Its
``ts`` has shipped both as TIMESTAMP(NANOS), which the footer schema
surfaces as nanosecond longs, and as microsecond TIMESTAMP_NTZ; the
nanos are converted to ``TimestampType`` (microseconds) once, at the
boundary, with exact integer arithmetic (``div 1000`` — no double
round-trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_user_session_analysis_spark.sources.tables import load_table

# Kafka-boundary schema for the JSON `props` payload (reference
# parses the message value with an explicit StructType; same idea).
PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType(), True)])


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with `ts` as a true microsecond timestamp.

    The declared footer schema reads TIMESTAMP(NANOS) as longs on any
    session, whatever its ``nanosAsLong`` conf.  Nanos -> micros
    truncates, which is exactly what DuckDB's TIMESTAMP (micros) does
    on the same file — keeping the oracle comparison bit-identical.
    It writes no session conf: the UTC event time the oracle expects
    comes from the session's time zone, UTC in ``get_spark``'s
    defaults.
    """
    raw = load_table(spark, sf_dir, "events")
    if dict(raw.dtypes).get("ts") in ("bigint", "long"):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw
