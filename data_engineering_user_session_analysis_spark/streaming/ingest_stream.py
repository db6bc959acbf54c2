"""Streaming ingest: message bus → JSON decode → enrichment →
partitioned parquet lake.

Re-expresses the reference streaming job (``spark_jobs/spark_stream.py``):
Kafka source (S1), ``CAST(value AS STRING)`` + ``from_json`` decode
(S2/F7), time derivations (P4/F1-F4), append-mode partitioned parquet
sink with checkpoint (S4/ST1/ST2/ST6/ST7).

The transform stages are plain ``DataFrame -> DataFrame`` functions:
they compose identically over a Kafka stream, a file stream (tests),
or a batch frame — same logical plan, so batch tests pin streaming
semantics.  The whole ingest path is map-only (no shuffle): at 100 TB
it scales linearly with executors and the parquet sink's
``partitionBy`` keeps the lake partition-pruned for the batch jobs.

The lake's format is decided here, once: both lake writers
(``write_lake_stream``, the batch ``build_lake``) write ``LAKE_SCHEMA``,
and every lake-root read declares it through ``read_lake``.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from data_engineering_user_session_analysis_spark.sources.tables import (
    first_data_file,
    footer_schema,
)

# Boundary schema for JSON event messages (explicit — no inference on
# the hot path; reference declares its 9-field StructType the same way
# at spark_jobs/spark_stream.py:44-54, with the price-as-String bug
# corrected per SURVEY.md §2.4 A6).
EVENT_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

# The wire format of ``ts`` in a JSON event message.  Microseconds:
# ``to_json`` defaults to millis, which would silently truncate event
# time on the wire (the reference pins a parse hazard here —
# SURVEY.md §1.2a).
MESSAGE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

# The nine data columns ``enrich_events`` yields over decoded messages,
# then the ``date`` partition column.
LAKE_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType) for f in EVENT_MESSAGE_SCHEMA]
    + [
        T.StructField("extracted_date", T.DateType()),
        T.StructField("date_of_week", T.StringType()),
        T.StructField("hour_of_day", T.IntegerType()),
        T.StructField("date", T.DateType()),
    ]
)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "user-event",
    max_offsets_per_trigger: int = 100_000,
) -> DataFrame:
    """Kafka streaming source (reference S1): earliest offsets,
    tolerate data loss, backpressure cap.  Requires the Kafka
    connector jars on the classpath (not present in the test
    container — exercised via the file-source twin in tests)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception as exc:
        raise RuntimeError(
            "Kafka connector (spark-sql-kafka-0-10) not on the classpath; "
            "add the package via spark.jars.packages or use "
            "read_file_stream as the source twin"
        ) from exc
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("failOnDataLoss", "false")
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load()
    )


def _parsed_message() -> Column:
    """The ``json_value`` message text parsed to an
    ``EVENT_MESSAGE_SCHEMA`` struct: null for a malformed message."""
    return F.from_json(
        "json_value", EVENT_MESSAGE_SCHEMA, {"timestampFormat": MESSAGE_TS_FORMAT}
    )


def decode_json_messages(raw: DataFrame) -> DataFrame:
    """Message value bytes → typed event columns (reference S2/P2/P3):
    CAST(value AS STRING) → from_json(explicit schema) → flatten."""
    return (
        raw.selectExpr("CAST(value AS STRING) AS json_value")
        .select(_parsed_message().alias("data"))
        .select("data.*")
    )


def decode_json_messages_with_quarantine(
    raw: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Poison-message handling for the ingest boundary: decode like
    ``decode_json_messages``, but SPLIT instead of silently nulling —
    ``(valid, quarantine)``.

    A malformed value (truncated JSON, wrong types, missing the
    required ``event_id``) must neither kill the stream nor leak a
    null-keyed row into the lake.  ``from_json`` yields a null struct
    (or null required field) for such messages; the quarantine branch
    keeps the RAW message text plus the decode-time context an
    operator needs to replay it after a producer fix.  Both branches
    come from one projection of the same source — under whole-stage
    codegen the message is parsed once per branch consumer, with no
    extra shuffle on either side (map-only, like the happy path).

    The reference has no bad-message story at all (a malformed value
    becomes an all-null row in its lake, ``spark_jobs/
    spark_stream.py:57-64``); this is the production-shaped fix.
    """
    decoded = raw.selectExpr("CAST(value AS STRING) AS json_value").withColumn(
        "data", _parsed_message()
    )
    # isNotNull never evaluates to SQL NULL, so the negation below is
    # an exact complement — every message lands in exactly one branch.
    is_valid = F.col("data").isNotNull() & F.col("data.event_id").isNotNull()
    valid = decoded.filter(is_valid).select("data.*")
    quarantine = decoded.filter(~is_valid).select(
        F.col("json_value").alias("raw_value"),
        F.current_timestamp().alias("quarantined_at"),
    )
    return valid, quarantine


def enrich_events(events: DataFrame) -> DataFrame:
    """Reference enrichment block (P4/F1-F4,
    ``spark_jobs/spark_stream.py:66-71``) as one projection."""
    return events.withColumns(
        {
            "extracted_date": F.current_date(),
            "date": F.to_date("ts"),
            "date_of_week": F.date_format("ts", "EEEE"),
            "hour_of_day": F.hour("ts"),
        }
    )


def write_lake_stream(
    enriched: DataFrame,
    lake_path: str,
    checkpoint_path: str,
    partition_col: str = "date",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Partitioned append-mode parquet sink with checkpoint
    (reference S4/ST2/ST6/ST7): exactly-once file sink.

    Partitions by the EVENT-derived ``date`` by default — the column
    the daily batch job prunes on — so the lake layout matches the
    downstream filters.  (Partitioning by processing-date
    ``extracted_date`` is nondeterministic under checkpoint replay
    across midnight and prunes nothing; it stays as a non-partition
    audit column.)"""
    writer = (
        enriched.writeStream.format("parquet")
        .outputMode("append")
        .option("path", lake_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy(partition_col)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def check_lake(
    spark: SparkSession, lake_path: str, fmt: str, days: Iterable[str]
) -> None:
    """Raise ``ValueError``, naming the file and the columns, unless the
    first data file of each ``date=<day>`` partition among ``days``
    holds exactly ``LAKE_SCHEMA``'s data columns, with a ``ts`` a
    declared read turns into TIMESTAMP.  The footer is read on the
    driver (no Spark job): parquet's through ``footer_schema``, ORC's
    by ORC's own inference.  A declared read alone would return a
    column the files lack as nulls."""
    data = LAKE_SCHEMA.fieldNames()[:-1]  # all but ``date``
    # parquet reads TIMESTAMP_NTZ as TIMESTAMP; ORC refuses to
    ts_types = ("timestamp", "timestamp_ntz") if fmt == "parquet" else ("timestamp",)
    for day in days:
        part = os.path.join(lake_path, f"date={day}")
        if not os.path.isdir(part):
            continue
        path = first_data_file(part)
        schema = footer_schema(spark, path) if fmt == "parquet" else spark.read.orc(path).schema
        found = {f.name: f.dataType.simpleString() for f in schema}
        missing = [c for c in data if c not in found]
        extra = [c for c in found if c not in data]
        if missing or extra:
            raise ValueError(f"lake file {path} lacks columns {missing}, has extra {extra}")
        if found["ts"] not in ts_types:
            raise ValueError(f"lake file {path} stores 'ts' as {found['ts']}, not {ts_types}")


def read_lake(
    spark: SparkSession, lake_path: str, fmt: str, days: Iterable[str]
) -> DataFrame:
    """The lake relation at ``lake_path``, read with ``LAKE_SCHEMA`` (no
    inference job) once ``check_lake`` passes for ``days``, the
    ``YYYY-MM-DD`` partitions the caller will process."""
    check_lake(spark, lake_path, fmt, days)
    return spark.read.format(fmt).schema(LAKE_SCHEMA).load(lake_path)


def read_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source twin of the Kafka source for tests/backfill: same
    downstream plan, parquet file or directory in, stream out.

    The stream schema is the input's own parquet footer
    (``footer_schema``, read on the driver from the file or the
    directory's first data file, no Spark job) rather than hardcoded:
    fixtures have shipped both nanos-as-long (INT64 ``ts``) and native
    microsecond TIMESTAMP/TIMESTAMP_NTZ, and assuming either corrupts
    the other (a nanos ``div 1000`` applied to micros collapses a
    7-day span into minutes).  Whatever the physical type, downstream
    sees a true TimestampType ``ts``.  No session conf is written."""
    schema = footer_schema(spark, path)
    ts = schema["ts"].dataType if "ts" in schema.fieldNames() else None
    if os.path.isfile(path):
        # FileStreamSource wants a directory or glob; bracket-glob the
        # last char so exactly this one file matches.
        path = f"{path[:-1]}[{path[-1]}]"
    reader = spark.readStream.format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.schema(schema).load(path)
    if isinstance(ts, T.LongType):
        # nanos-as-long: exact integer nanos -> micros
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts, T.TimestampNTZType):
        # Normalize NTZ to the session-tz TimestampType the downstream
        # plan (session_window, watermarks) expects; identity under UTC.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw
