"""CSV/JSON event replay — the reference's producer path (S7:
``dags/kafka_stream.py:61-82`` reads a CSV and emits JSON messages to
Kafka row by row).

Engine-side equivalent: read the CSV with an explicit schema, shape
each row as a message (``value`` = JSON string), and feed the same
``decode_json_messages`` used on the Kafka stream — so the batch
replay and the live stream share one decode/enrich plan.  A real
producer would instead ``df.write.format('kafka')`` the same frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
    EVENT_MESSAGE_SCHEMA,
    MESSAGE_TS_FORMAT,
)


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan with the event message schema (never inferSchema on
    the hot path) and an explicit timestamp format."""
    return (
        spark.read.option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        # NTZ columns parse via a separate option; pin it to the same
        # wire format so a TIMESTAMP_NTZ schema variant round-trips too.
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .schema(EVENT_MESSAGE_SCHEMA)
        .csv(path)
    )


def as_kafka_messages(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Shape rows like Kafka records: (key, value) with a JSON value.

    Keyed by user (unlike the reference's keyless producer, which
    landed every record on partition 0 — SURVEY.md §3.3): keying
    spreads load across topic partitions AND makes per-user ordering
    a broker guarantee."""
    return events.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*events.columns), {"timestampFormat": MESSAGE_TS_FORMAT})
        .cast("binary")
        .alias("value"),
    )
