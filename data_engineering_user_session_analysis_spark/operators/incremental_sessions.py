"""Incremental sessionization — day-over-day session stitching.

The batch path (``sessionize`` + ``session_rollup``) recomputes
sessions from ALL events it is given.  A daily job at 100 TB cannot
re-read history, and sessionizing one day in isolation silently
splits every session that crosses midnight (the reference's daily
job, ``spark_jobs/spark_batch_job.py``, has exactly this bug — it
sessionizes the single day partition it reads).  This module folds
one day at a time instead: day N's events plus an O(active users)
carry state go in; every session that can no longer grow comes out,
and each user's still-open tail session is carried forward.

Design — mergeable partial aggregates, not event retention:

* The carry state holds ONE row per user seen so far: the partial
  ``session_rollup`` aggregates of their last (open) session plus
  its global ordinal.  Every ``session_rollup`` output is mergeable
  across a day boundary: min/max/sum/count combine directly,
  ``distinct_event_types`` is carried as the value set
  (``array_union`` then ``size`` — event types are low-cardinality
  by schema), and first/last event types combine POSITIONALLY
  because every carried event strictly precedes every day-N event
  (day partitions are disjoint, half-open time ranges).
* One step is one SQL statement (``_STEP_SQL``).  The carried open
  session enters the day's rows as a PSEUDO-EVENT whose ts is the
  carried ``last_ts``; it sorts before every day event (``_carry
  DESC`` breaks a tie), so "does the first local session continue
  the carry?" IS the ordinary lag-gap rule — the same strict-``>``
  boundary at ``GAP_SECONDS`` as ``sessionize``, bound into the
  statement as ``:gap_us`` — evaluated by the one window that
  sessionizes the day.  The stitched result is event-identical to
  batch sessionization of the union.
* Sessions emitted = closed forever; the invariant (pinned in
  ``tests/test_incremental_sessions.py``) is that replaying days in
  order and concatenating emissions + ``finalize_sessions`` equals
  ``session_rollup(sessionize(all_events))`` EXACTLY — ids,
  ordinals, aggregates, types.

Scale shape: per day, ONE ``user_id`` hash exchange total (the
session rollup and the open/closed split reuse its partitioning)
over O(day events + active users) rows — never O(history), and no
joins at all (plan-pinned in tests).  State lives as a parquet table
keyed by user, written at the end of each step and read back at the
start of the next — do NOT chain daily steps through
``localCheckpoint`` instead: eagerly-checkpointed blocks pin memory
across steps and the measured per-day cost degrades from ~2 s to
16+ s by day 15 of a 30-day replay, while the parquet round-trip
stays flat (and is what a restartable daily job needs anyway).  Days
MUST be processed in ascending date order (the positional merge rule
assumes carried events precede today's).

The session contract is ``operators/sessionize.py``'s: the gap, the
``(ts, event_id)`` order and the aggregates.  ``_STEP_SQL`` writes
each aggregate in its mergeable form (a carried partial combined with
the day's rows).  Inputs use the lake's event columns: ``user_id``,
``ts`` (TIMESTAMP or TIMESTAMP_NTZ), ``event_id`` (the tie-break),
``event_type`` and ``value``; other columns are ignored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.sessionize import (
    GAP_SECONDS,
    duration_seconds,
    session_key,
)

# carried partial-aggregate columns (state table schema, keyed by user)
_STATE_COLS = (
    "session_seq",
    "session_start_time",
    "last_ts",
    "number_of_events",
    "session_value",
    "is_purchase",
    "event_types",
    "first_event_type",
    "last_event_type",
)

# First day: an EMPTY carry with the state table's column types (the
# timestamps borrow the day's ts type, so TIMESTAMP and TIMESTAMP_NTZ
# lakes both work).
_EMPTY_STATE_SQL = """
SELECT user_id,
       CAST(NULL AS BIGINT) AS session_seq,
       ts AS session_start_time,
       ts AS last_ts,
       CAST(NULL AS BIGINT) AS number_of_events,
       CAST(NULL AS DECIMAL(28,2)) AS session_value,
       CAST(NULL AS INT) AS is_purchase,
       CAST(NULL AS ARRAY<STRING>) AS event_types,
       CAST(NULL AS STRING) AS first_event_type,
       CAST(NULL AS STRING) AS last_event_type
FROM {day}
WHERE false
"""

# One step.  `{day}` and `{state}` are DataFrames (PySpark registers
# each as a temp view for the call); `:gap_us` is a bound parameter.
# The result is every (user, session) partial after folding the day,
# plus `_is_open`: the user's LAST session stays open (a user with no
# events today has only the carry row, so it is the max and stays
# open); every earlier one is closed.
_STEP_SQL = """
WITH u AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(value AS DECIMAL(18,2)) AS _val,
         false AS _carry,
         NULL AS _cseq, NULL AS _cstart, NULL AS _cnev, NULL AS _cval,
         NULL AS _cpurch, NULL AS _ctypes, NULL AS _cfirst, NULL AS _clast
  FROM {day}
  UNION ALL
  SELECT user_id, last_ts AS ts, NULL AS event_id, NULL AS event_type,
         NULL AS _val,
         true AS _carry,
         session_seq AS _cseq,
         session_start_time AS _cstart,
         number_of_events AS _cnev,
         session_value AS _cval,
         is_purchase AS _cpurch,
         event_types AS _ctypes,
         first_event_type AS _cfirst,
         last_event_type AS _clast
  FROM {state}
),
seqd AS (
  SELECT *,
         sum(CASE WHEN _prev_ts IS NULL
                    OR unix_micros(CAST(ts AS TIMESTAMP))
                       - unix_micros(CAST(_prev_ts AS TIMESTAMP)) > :gap_us
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id
                 ORDER BY _carry DESC, ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS _seq_local,
         max(_cseq) OVER (PARTITION BY user_id) AS _ucseq
  FROM (
    SELECT *,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY _carry DESC, ts, event_id)
             AS _prev_ts
    FROM u
  )
),
combined AS (
  SELECT user_id,
         coalesce(max(_ucseq), 1) + _seq_local - 1 AS session_seq,
         min(CASE WHEN _carry THEN _cstart ELSE ts END)
           AS session_start_time,
         max(ts) AS last_ts,
         sum(CASE WHEN _carry THEN _cnev ELSE 1 END) AS number_of_events,
         CAST(sum(CASE WHEN _carry THEN _cval ELSE _val END)
              AS DECIMAL(28,2)) AS session_value,
         max(CASE WHEN _carry THEN _cpurch
                  WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS is_purchase,
         CASE WHEN max(CASE WHEN _carry THEN 1 ELSE 0 END) = 1
              THEN array_union(
                     first(CASE WHEN _carry THEN _ctypes END, true),
                     collect_set(CASE WHEN NOT _carry THEN event_type END))
              ELSE collect_set(CASE WHEN NOT _carry THEN event_type END)
         END AS event_types,
         min_by(CASE WHEN _carry THEN _cfirst ELSE event_type END,
                struct(CASE WHEN _carry THEN 0 ELSE 1 END, ts, event_id))
           AS first_event_type,
         max_by(CASE WHEN _carry THEN _clast ELSE event_type END,
                struct(CASE WHEN _carry THEN 0 ELSE 1 END, ts, event_id))
           AS last_event_type
  FROM seqd
  GROUP BY user_id, _seq_local
)
SELECT *,
       session_seq = max(session_seq) OVER (PARTITION BY user_id) AS _is_open
FROM combined
"""


def advance_sessions(
    day: DataFrame,
    state: DataFrame | None = None,
    materialize_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One incremental step: fold one day of events into the carry,
    splitting sessions at ``sessionize``'s ``GAP_SECONDS``.

    Returns ``(closed, new_state)``: ``closed`` has the
    ``session_rollup`` schema and contains every session that ended
    within this day (a later day can no longer extend it);
    ``new_state`` is the full carry to pass to the next day.  Pass
    ``state=None`` on the first day.

    Both outputs are filters over ONE materialized fold, so a caller
    that writes both (and counts them) runs the step once:

    * by default the fold is eagerly ``localCheckpoint``-ed —
      O(sessions-per-day + active-users) rows, released when the
      step's references die (a within-step block, not the
      across-days chaining the module docstring warns about);
    * with ``materialize_dir`` the fold is written to parquet at that
      path instead (overwriting it) and both outputs read it back, so
      a replay loop pays one job per day and ``new_state`` is already
      restart-safe on disk.  Use a per-day path: ``closed`` keeps a
      live reference to the files.
    """
    spark = day.sparkSession
    if state is None:
        state = empty_state(day)
    combined = spark.sql(
        _STEP_SQL,
        args={"gap_us": GAP_SECONDS * 1_000_000},
        day=day,
        state=state,
    )
    if materialize_dir is None:
        combined = combined.localCheckpoint(eager=True)
    else:
        combined.write.mode("overwrite").parquet(materialize_dir)
        combined = spark.read.schema(combined.schema).parquet(materialize_dir)
    closed = _to_rollup(combined.filter(~F.col("_is_open")))
    new_state = combined.filter(F.col("_is_open")).select("user_id", *_STATE_COLS)
    return closed, new_state


def empty_state(day: DataFrame) -> DataFrame:
    """A carry with no rows, in the state table schema that folding
    ``day`` reads and writes: its timestamps have the type of the
    day's ``ts``.  Its ``schema`` is what a stored carry is read with,
    so reading one needs no schema-inference job."""
    return day.sparkSession.sql(_EMPTY_STATE_SQL, day=day)


def _to_rollup(partials: DataFrame) -> DataFrame:
    """Project carried/merged partials to the exact ``session_rollup``
    output schema (same names, same types, same column order)."""
    return partials.select(
        F.col("user_id"),
        session_key(F.col("session_seq")).alias("session_id"),
        F.col("session_start_time"),
        F.col("last_ts").alias("session_end_time"),
        duration_seconds(F.col("session_start_time"), F.col("last_ts")).alias(
            "session_duration_seconds"
        ),
        F.col("number_of_events"),
        F.size("event_types").cast("long").alias("distinct_event_types"),
        F.col("is_purchase"),
        F.col("session_value").cast("decimal(28,2)").alias("session_value"),
        F.col("first_event_type"),
        F.col("last_event_type"),
    )


def finalize_sessions(state: DataFrame) -> DataFrame:
    """Emit every still-open carried session as a final rollup row
    (end of stream / end of backfill)."""
    return _to_rollup(state)
