"""Streaming queries surfaced through the batch-shaped registry: the
stream is driven to completion (availableNow + memory sink) and the
materialized result returned as a plain DataFrame, so the DuckDB
oracle can check streaming semantics against the equivalent batch
SQL — the gap-sessionization CTE.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.queries.session_queries import (
    _SESSIONIZED_CTE,
    _oracle_types,
)
from data_engineering_user_session_analysis_spark.streaming.ingest_stream import read_file_stream
from data_engineering_user_session_analysis_spark.streaming.session_stream import (
    session_window_rollup,
    write_memory_sink,
)

# Stateful-stage shuffle width.  AQE is DISABLED for stateful
# streaming workloads, so this static number is the real stateful
# partition count (fixed at the first checkpoint).  Each partition
# carries a state-store instance (RocksDB): too many partitions and
# per-batch store open/commit overhead dominates — 32 partitions cost
# ~2x these queries' wall-clock vs 8 at sf0.1 (~12k sessions per
# partition).  In production this is sized to state volume
# (~state_bytes / 1 GB per partition), set BEFORE first start since
# it cannot change across checkpoint restarts.
STATEFUL_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_STATEFUL_SHUFFLE", "8")


@contextmanager
def _stateful_shuffle(spark: SparkSession):
    """Scope the stateful shuffle width to one ephemeral stream run,
    restoring the session's batch setting afterwards (registry
    queries must not leak conf — tests/test_conf_isolation.py)."""
    try:
        old = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        old = None
    spark.conf.set("spark.sql.shuffle.partitions", STATEFUL_SHUFFLE_PARTITIONS)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", old)


@register(
    "streaming_session_rollup",
    _SESSIONIZED_CTE
    + """
, firsts AS (
  SELECT *,
    first_value(event_type) OVER w AS first_event_type,
    last_value(event_type)  OVER w AS last_event_type
  FROM sessionized
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT
  user_id,
  min(ts) AS session_start_time,
  max(ts) AS session_end_time,
  date_diff('second', min(ts), max(ts)) AS session_duration_seconds,
  CAST(count(*) AS BIGINT) AS number_of_events,
  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS is_purchase,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
  any_value(first_event_type) AS first_event_type,
  any_value(last_event_type) AS last_event_type
FROM firsts
GROUP BY user_id, session_id
""",
)
def streaming_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming sessionization (session_window + memory
    sink, driven to completion) — must equal the batch lag/cumsum
    sessionization, which is what the oracle SQL computes.

    Watermark is effectively unbounded here so the bounded replay is
    lossless; the 10-minute production watermark is pinned separately
    in tests/test_streaming.py."""
    stream = read_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    rollup = session_window_rollup(stream, watermark="3650 days")
    name = f"stream_rollup_{uuid.uuid4().hex[:8]}"
    with _stateful_shuffle(spark):
        q = write_memory_sink(rollup, name, output_mode="complete")
        q.processAllAvailable()
        q.stop()
    return _oracle_types(spark.table(name))


@register(
    "streaming_hourly_counts",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation (F.window, 1h) driven to
    completion — the canonical watermarked windowed count.  Oracle:
    the equivalent batch GROUP BY on the truncated hour."""
    stream = read_file_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = (
        stream.withWatermark("ts", "3650 days")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    with _stateful_shuffle(spark):
        q = write_memory_sink(agg, name, output_mode="complete")
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


# NOTE: round 1's `distinct_user_event_pairs` registry entry
# (dropDuplicates demo) was retired in the 50-row consolidation
# (COVERAGE.md): distinct-semantics keep green rows through
# user_segments (INTERSECT/EXCEPT are distinct ops) and the MinHash
# candidate `.distinct()`; the streaming watermarked-dedup variant
# stays pinned in tests/test_streaming.py.
