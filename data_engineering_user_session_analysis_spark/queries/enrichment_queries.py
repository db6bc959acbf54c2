"""Row-level enrichment queries (reference projections P4/P9 and
scalar functions F1-F7) surfaced as oracle-checked registry entries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.sessionize import (
    session_aggregates,
    session_rollup_full,
    sessionize,
)
from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.queries.session_queries import _SESSIONIZED_CTE
from data_engineering_user_session_analysis_spark.sources.events import PROPS_SCHEMA, load_events


@register(
    "event_enrichment",
    """
SELECT event_id,
  strftime(ts, '%Y-%m-%d') AS date,
  dayname(ts) AS date_of_week,
  CAST(hour(ts) AS INT) AS hour_of_day,
  CASE WHEN value >= 100 THEN 'high'
       WHEN value >= 50  THEN 'mid'
       ELSE 'low' END AS value_tier,
  CAST(props->>'k' AS BIGINT) AS k
FROM events
""",
)
def event_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's streaming enrichment block as a single
    projection (P4/P9/F2-F4/F7): date parts, conditional tiering,
    JSON payload field — all JVM built-ins, map-only plan."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.date_format("ts", "EEEE").alias("date_of_week"),
        F.hour("ts").alias("hour_of_day"),
        F.when(F.col("value") >= 100, "high")
        .when(F.col("value") >= 50, "mid")
        .otherwise("low")
        .alias("value_tier"),
        F.from_json("props", PROPS_SCHEMA).getField("k").alias("k"),
    )


@register(
    "session_rollup_full",
    _SESSIONIZED_CTE
    + """
, firsts AS (
  SELECT *,
    first_value(event_id)   OVER w AS first_event_id,
    last_value(event_id)    OVER w AS last_event_id,
    first_value(event_type) OVER w AS first_event_type,
    last_value(event_type)  OVER w AS last_event_type
  FROM sessionized
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT
  user_id, session_id,
  min(ts) AS session_start_time,
  max(ts) AS session_end_time,
  date_diff('second', min(ts), max(ts)) AS session_duration_seconds,
  round(date_diff('second', min(ts), max(ts)) / 60.0, 2) AS session_duration_minutes,
  CAST(count(*) AS BIGINT) AS number_of_events,
  any_value(first_event_id) AS first_event_id,
  any_value(last_event_id) AS last_event_id,
  any_value(first_event_type) AS first_event_type,
  any_value(last_event_type) AS last_event_type,
  string_agg(CAST(event_id AS VARCHAR) || ':' || event_type, ','
             ORDER BY ts, event_id) AS events_trace,
  strftime(min(ts), '%Y-%m-%d') AS date
FROM firsts
GROUP BY user_id, session_id
""",
)
def session_rollup_full_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full `user_session` serving-table rollup (reference DDL,
    ``spark_jobs/spark_stream.py:116-131``) with the deterministic
    time-ordered event trace.  ``events_json`` is exercised in unit
    tests; the oracle column is the `,`-joined trace (JSON string
    formats differ across engines)."""
    s = sessionize(load_events(spark, sf_dir), order_cols=("event_id",))
    return session_rollup_full(s, with_events_json=False)


@register(
    "session_event_attribution",
    _SESSIONIZED_CTE
    + """
, purchase_sessions AS (
  SELECT user_id,
    session_id AS purchase_session_id,
    min(ts) AS w_start, max(ts) AS w_end
  FROM sessionized
  GROUP BY user_id, session_id
  HAVING max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
)
SELECT e.event_id, e.user_id, s.purchase_session_id
FROM events e
LEFT JOIN purchase_sessions s
  ON e.user_id = s.user_id AND e.ts >= s.w_start AND e.ts <= s.w_end
""",
)
def session_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-to-interval attribution via the binned range join
    (`operators/range_join.py`) — the reference's own domain: sessions
    have [start, end] windows (the `user_session` serving DDL,
    ``spark_jobs/spark_stream.py:116-131``), and each raw event is
    attributed to the purchase-session window containing it, or to
    NULL if it falls outside every one (``how="left"``).

    The oracle is the naive BETWEEN left join; the engine path is the
    bin equi-join + residual filter + left-anti unmatched union — a
    plain shuffle on (bin, user_id) instead of the
    BroadcastNestedLoopJoin a raw range predicate plans as (plan shape
    pinned in tests/test_plans.py).  Gap-derived sessions of one user
    never overlap, so each event matches at most one window and the
    output stays exactly one row per event."""
    from data_engineering_user_session_analysis_spark.operators.range_join import range_join

    ev = load_events(spark, sf_dir)
    s = sessionize(ev, order_cols=("event_id",))
    sessions = (
        s.groupBy("user_id", "session_id")
        .agg(*session_aggregates("session_start_time", "session_end_time", "is_purchase"))
        .filter(F.col("is_purchase") == 1)
        .select(
            "user_id",
            F.col("session_id").alias("purchase_session_id"),
            F.col("session_start_time").alias("w_start"),
            F.col("session_end_time").alias("w_end"),
        )
    )
    points = ev.select("event_id", "user_id", "ts")
    return range_join(
        points,
        sessions,
        point_ts="ts",
        start_col="w_start",
        end_col="w_end",
        bin_width_seconds=1800,
        extra_keys=("user_id",),
        how="left",
        point_key="event_id",
    ).select("event_id", "user_id", "purchase_session_id")
