"""Session-analytics queries — the reference's batch surface
(``spark_jobs/spark_batch_job.py``) re-expressed over the driver's
``events`` table (event_id, ts, user_id, event_type, value, props).

The testdata events carry no pre-assigned session key, so sessions
are gap-derived (30-minute inactivity, the reference's streaming
session-state semantics — SURVEY.md §2.9 ST4) and then rolled up to
the session/user level exactly like the reference's Q1/Q2/Q3/Q6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.sessionize import (
    GAP_SECONDS,
    session_rollup,
    sessionize,
)
from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.events import load_events

# Shared oracle CTE: gap-sessionization, the lag/cumsum construction.
# The gap predicate compares native microsecond deltas — identical to
# the engine's `epoch_micros` difference and to what streaming
# session_window compares, so batch, streaming, and oracle agree on
# boundary pairs with sub-second components.
_SESSIONIZED_CTE = f"""
WITH ordered AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *,
    CASE WHEN prev_ts IS NULL
           OR date_diff('microsecond', prev_ts, ts) > {GAP_SECONDS * 1_000_000}
         THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessionized AS (
  SELECT *,
    CAST(user_id AS VARCHAR) || '-' || CAST(
      SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id
  FROM flagged
)
"""


# Batch gap-sessionization rolled up per session: the oracle of every
# row whose answer is `session_rollup(sessionize(events))`.
_SESSION_ROLLUP_ORACLE = (
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
  session_id,
  min(ts) AS session_start_time,
  max(ts) AS session_end_time,
  date_diff('second', min(ts), max(ts)) AS session_duration_seconds,
  CAST(count(*) AS BIGINT) AS number_of_events,
  CAST(count(DISTINCT event_type) AS BIGINT) AS distinct_event_types,
  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS is_purchase,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
  any_value(first_event_type) AS first_event_type,
  any_value(last_event_type) AS last_event_type
FROM firsts
GROUP BY user_id, session_id
"""
)


def _oracle_types(df: DataFrame) -> DataFrame:
    """A session rollup with the oracle's column types: the 0/1
    ``is_purchase`` as int and the exact ``session_value`` as double."""
    return df.withColumns(
        {
            "is_purchase": F.col("is_purchase").cast("int"),
            "session_value": F.col("session_value").cast("double"),
        }
    )


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_events(spark, sf_dir), order_cols=("event_id",))


@register("session_rollup", _SESSION_ROLLUP_ORACLE)
def session_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: gap-sessionize + full session-level rollup
    (reference Q1 + the `user_session` serving DDL columns,
    ``spark_jobs/spark_stream.py:116-131``)."""
    return _oracle_types(session_rollup(_sessionized(spark, sf_dir)))


@register(
    "user_level",
    _SESSIONIZED_CTE
    + """
, maxd AS (SELECT max(CAST(ts AS DATE)) AS global_max_date FROM sessionized),
agg AS (
  SELECT user_id,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS total_purchases,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_spent,
    max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase_ts,
    CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
    CAST(count(*) AS BIGINT) AS n_events
  FROM sessionized GROUP BY user_id
)
SELECT user_id, total_purchases, total_spent, n_sessions, n_events,
  CAST(coalesce(date_diff('day', CAST(last_purchase_ts AS DATE), global_max_date), -1) AS INT)
    AS days_since_last_purchase
FROM agg CROSS JOIN maxd
""",
)
def user_level_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q2+Q4+Q6 (``spark_jobs/spark_batch_job.py:44-85``):
    per-user purchase totals and recency vs the dataset's max date.

    The reference collects the global max date to the driver (A10);
    here the 1-row aggregate stays in-plan via a (broadcast) cross
    join — no driver round-trip, scale-safe."""
    s = _sessionized(spark, sf_dir)
    purchase = F.col("event_type") == "purchase"
    agg = s.groupBy("user_id").agg(
        F.sum(F.when(purchase, 1).otherwise(0)).alias("total_purchases"),
        F.sum(F.when(purchase, F.col("value").cast("decimal(18,2)")))
        .cast("double")
        .alias("total_spent"),
        F.max(F.when(purchase, F.col("ts"))).alias("last_purchase_ts"),
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
        F.max("ts").alias("last_event_ts"),
    )
    # Global max date derived from the per-user aggregate (rows =
    # n_users), NOT a second scan of the events table: max over users
    # of max-per-user == global max.  agg feeds two branches (the
    # 1-row reduce and the probe side), so cache it — the reference's
    # missing-cache fan-out bug, fixed (SURVEY.md §4 caching row).
    # Cache lifecycle (deliberate, unlike the r05-fixed dedup leak):
    # the entry is keyed by canonicalized plan (repeat calls reuse ONE
    # entry per sf_dir), holds n_users aggregate rows (not event
    # rows), and is evictable LRU storage.  Measured: AQE does NOT
    # give the two branches a ReusedExchange here, and dropping the
    # cache costs ~20% (0.57 -> 0.69 s at sf0.1).
    agg = agg.cache()
    maxd = agg.agg(F.max(F.to_date("last_event_ts")).alias("global_max_date"))
    agg = agg.drop("last_event_ts")
    return (
        agg.crossJoin(F.broadcast(maxd))
        .withColumn(
            "days_since_last_purchase",
            F.coalesce(
                F.datediff(F.col("global_max_date"), F.to_date("last_purchase_ts")),
                F.lit(-1),
            ).cast("int"),
        )
        .select(
            "user_id",
            "total_purchases",
            "total_spent",
            "n_sessions",
            "n_events",
            "days_since_last_purchase",
        )
    )


@register(
    "favorite_event_type",
    """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS interaction_count
  FROM events GROUP BY user_id, event_type
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY interaction_count DESC, event_type ASC) AS rn
  FROM counts
)
SELECT user_id, event_type AS favorite_event_type, interaction_count
FROM ranked WHERE rn = 1
""",
)
def favorite_event_type_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference Q3 favorite-category (A9 + W1 + P8,
    ``spark_jobs/spark_batch_job.py:54-63``): top-1-per-group via
    ranking window, deterministic tie-break on event_type."""
    ev = load_events(spark, sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("interaction_count")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("interaction_count").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("favorite_event_type"),
            "interaction_count",
        )
    )


@register(
    "daily_activity",
    _SESSIONIZED_CTE
    + """
SELECT user_id, strftime(ts, '%Y-%m-%d') AS date,
  CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sessionized GROUP BY user_id, strftime(ts, '%Y-%m-%d')
""",
)
def daily_activity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resurrected commented-out report (reference A14,
    ``spark_jobs/spark_batch_job.py:88-99``): sessions/events per
    user per day.

    Date keys are emitted as 'yyyy-MM-dd' strings on both engines —
    date-typed columns round-trip differently through pandas."""
    s = _sessionized(spark, sf_dir)
    return s.groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("date")).agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@register(
    "funnel",
    """
SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""",
)
def funnel_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resurrected funnel report (reference A13,
    ``spark_jobs/spark_batch_job.py:110-118``): distinct users per
    funnel step."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@register(
    "session_rollup_incremental",
    # oracle: batch gap-sessionization over the FULL events table —
    # the incremental day-replay must equal it EXACTLY (the operator's
    # core invariant, now driver-guarded rather than pytest-only)
    _SESSION_ROLLUP_ORACLE,
)
def session_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day incremental sessionization replay
    (``operators/incremental_sessions.py``), driver-guarded.  The
    events are written once to a date-partitioned lake; each calendar
    day, in ascending order, is then folded through
    ``advance_sessions`` — the same step the production
    ``job sessions <ds>`` verb runs — with the fold written to a
    per-day parquet dir that is also the next day's carry.  The
    closed sessions of every day plus ``finalize_sessions`` of the
    last carry are the result.  The oracle is BATCH
    gap-sessionization over all events: the stitched result must
    match it row-for-row, including sessions crossing midnight (the
    reference's daily job splits those:
    ``spark_jobs/spark_batch_job.py`` sessionizes one partition at a
    time).  Per day the step is one user-partitioned window pass over
    the day's events plus O(active users) carry rows — never
    O(history).

    An event with a null ``ts`` belongs to no day, so it cannot be
    folded: the row raises ``ValueError`` rather than drop it."""
    import os
    import tempfile
    from functools import reduce

    from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
        advance_sessions,
        finalize_sessions,
    )

    # the five columns the step reads, projected before the lake write
    # so the payload (`props`) never reaches the per-day scans
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).withColumn("_d", F.to_date("ts"))
    days = [r["_d"] for r in ev.select("_d").distinct().orderBy("_d").collect()]
    if None in days:
        raise ValueError(
            "session_rollup_incremental: events with a null ts belong to no "
            "day and cannot be folded"
        )
    # The temp dir backs the RETURNED DataFrame (the step dirs), so it
    # is left for the consumer; OS tmp reaping reclaims the few MB.
    tmp = tempfile.mkdtemp(prefix="session_incr_")
    lake_dir = os.path.join(tmp, "lake")
    ev.repartition("_d").write.partitionBy("_d").parquet(lake_dir)
    # read back with the schema just written: no inference job
    lake = spark.read.schema(ev.schema).parquet(lake_dir)
    state, closed = None, []
    for i, d in enumerate(days):
        day_closed, state = advance_sessions(
            lake.filter(F.col("_d") == d),
            state,
            materialize_dir=os.path.join(tmp, f"step_{i}"),
        )
        closed.append(day_closed)
    full = reduce(DataFrame.unionByName, closed, finalize_sessions(state))
    return _oracle_types(full)


@register(
    "props_extract",
    """
SELECT event_type,
  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(count(CASE WHEN CAST(props->>'k' AS BIGINT) > 50 THEN 1 END) AS BIGINT) AS n_high_k,
  CAST(sum(len(json_keys(props))) AS BIGINT) AS n_prop_entries,
  CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
  CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
)
def props_extract_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload decode (reference F7 `from_json`,
    ``spark_jobs/spark_stream.py:57``) through BOTH read paths in one
    row: the fixed-StructType decode (explicit schema, no inference
    on the hot path — ``sum_k``/``n_high_k``) AND the schema-on-read
    path (key enumeration via ``json_object_keys`` — the exact twin
    of DuckDB's ``json_keys`` — plus MapType element access for
    ``min_k``/``max_k``).  The map parses values as STRING and casts
    the accessed field: a map<string,long> decode would null the
    ENTIRE map on one non-long value while the oracle's ``->>'k'``
    still reads k — a latent cross-engine divergence this shape
    avoids.  Round 3 folded the former separate ``props_map_stats``
    registry entry in here (driver 50-row cap; COVERAGE.md) — a
    defect in either decode path breaks this row's hash match."""
    from pyspark.sql import types as T

    from data_engineering_user_session_analysis_spark.sources.events import PROPS_SCHEMA

    ev = load_events(spark, sf_dir)
    k = F.from_json("props", PROPS_SCHEMA).getField("k")
    m = F.from_json("props", T.MapType(T.StringType(), T.StringType()))
    return (
        ev.select(
            "event_type",
            k.alias("k"),
            F.size(F.json_object_keys("props")).cast("long").alias("n_entries"),
            m.getItem("k").cast("long").alias("mk"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high_k"),
            F.sum("n_entries").alias("n_prop_entries"),
            F.min("mk").alias("min_k"),
            F.max("mk").alias("max_k"),
        )
    )


@register(
    "cohort_retention",
    """
WITH firsts AS (
  SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS cohort_date
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS active_date
  FROM events
)
SELECT f.cohort_date,
  CAST(date_diff('day', CAST(f.cohort_date AS DATE), CAST(a.active_date AS DATE)) AS INT)
    AS day_offset,
  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active_users
FROM activity a JOIN firsts f ON a.user_id = f.user_id
GROUP BY f.cohort_date, day_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen date,
    counted on each subsequent active day — the standard product
    analytics rollup (first-touch attribution + distinct activity).
    Two aggregations + one equi-join on user_id.  No broadcast hint:
    the firsts side is one row PER USER, so it grows with the data —
    at 100x users a forced broadcast blows the driver/executor limit.
    AQE picks broadcast while it fits and shuffle-hash/SMJ beyond."""
    ev = load_events(spark, sf_dir)
    day = F.date_format("ts", "yyyy-MM-dd")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_date"))
    activity = ev.select("user_id", day.alias("active_date")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff(F.to_date("active_date"), F.to_date("cohort_date"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@register(
    "session_rollup_keyed",
    """
WITH keyed AS (
  SELECT *,
    CAST(user_id AS VARCHAR) || '-' || strftime(ts, '%Y-%m-%d') AS user_session
  FROM events
), firsts AS (
  SELECT *,
    first_value(event_type) OVER w AS first_event_type,
    last_value(event_type)  OVER w AS last_event_type
  FROM keyed
  WINDOW w AS (PARTITION BY user_id, user_session ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT
  user_id,
  user_session,
  min(ts) AS session_start_time,
  max(ts) AS session_end_time,
  date_diff('second', min(ts), max(ts)) AS session_duration_seconds,
  CAST(count(*) AS BIGINT) AS number_of_events,
  CAST(count(DISTINCT event_type) AS BIGINT) AS distinct_event_types,
  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS is_purchase,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
  any_value(first_event_type) AS first_event_type,
  any_value(last_event_type) AS last_event_type
FROM firsts
GROUP BY user_id, user_session
""",
)
def session_rollup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LIVE batch path: sessions arrive PRE-KEYED
    (`user_session` UUID column) and the rollup is a direct groupBy on
    that key — no window, no gap derivation, ONE hash aggregation
    (reference ``spark_jobs/spark_batch_job.py:27-41``).

    The driver's events table carries no session key, so the key is
    stamped in the scan projection (user-day — a stand-in for the
    data-borne UUID; zero-cost, map-side).  What this row proves is
    the keyed operator path: ``session_rollup(df, session_col=...)``
    consuming an existing key.  Plan shape at 100 TB: single shuffle
    on (user, session key) with map-side partial aggregation — strictly
    cheaper than the gap-derived variant (no sort, no window state)."""
    ev = load_events(spark, sf_dir)
    keyed = ev.withColumn(
        "user_session",
        F.concat_ws(
            "-", F.col("user_id").cast("string"), F.date_format("ts", "yyyy-MM-dd")
        ),
    )
    return _oracle_types(session_rollup(keyed, session_col="user_session"))
