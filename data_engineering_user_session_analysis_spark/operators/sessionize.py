"""Sessionization operators — the reference's core capability.

The reference evidences two session models (SURVEY.md §1.2, §2.9):

* **key-based** — sessions pre-assigned by the data (`user_session`
  UUID column in the e-commerce schema; reference
  ``spark_jobs/spark_batch_job.py:27-41`` groups by it directly);
* **gap-based** — sessions *derived* from event-time gaps per user
  (the synthetic web-event schema has no session key; the committed
  streaming checkpoint at reference ``tmp/state/0/`` shows a stateful
  per-user session aggregation with a 10-minute watermark).

Batch gap-sessionization is the classic lag/cumsum construction:
flag an event as a session start when its gap from the previous event
of the same user exceeds the threshold, then running-sum the flags.
This is the DuckDB-oracle-checkable twin of streaming
``session_window`` (see ``streaming/session_stream.py``).

This module is the session contract, decided once: the gap
(``GAP_SECONDS``), the event order (``(ts, event_id)``) and every
session aggregate (``session_aggregates``).  The event columns are
``streaming/ingest_stream.LAKE_SCHEMA``'s names (``user_id``, ``ts``,
``event_id``, ``event_type``, ``value``).  The batch rollups here,
streaming ``session_window_rollup`` and the incremental SQL fold
(``operators/incremental_sessions.py``) all read it.

Scale notes (100 TB): the window spec partitions by ``user_id`` —
one shuffle, hash-partitioned on the user key, the same partitioning
the downstream session rollup needs, so Catalyst reuses the exchange
(no second shuffle between sessionize and the per-session groupBy).
Hot users (Zipf skew) are bounded: a user's events must fit one
partition's sort buffer, which holds to ~10^8 events/user; beyond
that, pre-split by (user_id, date) and stitch boundary sessions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: inactivity gap that closes a session: strictly longer splits
GAP_SECONDS = 1800

#: total order on a user's events.  The reference uses
#: ``first()/last()`` in group-agg for first/last product
#: (``spark_jobs/spark_batch_job.py:30``), which is
#: order-NONdeterministic in Spark; the intent is earliest/latest.
#: ``min_by/max_by`` over this order is the deterministic fix
#: (SURVEY.md §2.4 A8).
EVENT_ORDER = ("ts", "event_id")

#: ``session_rollup``'s aggregate columns, in output order
ROLLUP_COLS = (
    "session_start_time",
    "session_end_time",
    "session_duration_seconds",
    "number_of_events",
    "distinct_event_types",
    "is_purchase",
    "session_value",
    "first_event_type",
    "last_event_type",
)


def epoch_seconds(col: Column | str) -> Column:
    """Truncated epoch seconds for TIMESTAMP *and* TIMESTAMP_NTZ
    inputs (NTZ cannot cast to BIGINT directly; casting through
    TIMESTAMP is the identity under the engine's UTC session tz)."""
    return F.col(col).cast("timestamp").cast("long") if isinstance(col, str) else col.cast("timestamp").cast("long")


def epoch_micros(col: Column | str) -> Column:
    """Exact epoch microseconds (native TimestampType precision)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def duration_seconds(start: Column, end: Column) -> Column:
    """Whole seconds from ``start`` to ``end`` (truncated epochs)."""
    return epoch_seconds(end) - epoch_seconds(start)


def session_key(seq: Column) -> Column:
    """The globally unique session key ``"{user_id}-{seq}"``."""
    return F.concat_ws("-", F.col("user_id").cast("string"), seq)


def session_aggregates(*names: str) -> list[Column]:
    """The named session aggregates over event rows, each aliased to
    its name, in the order given.

    Start/end are min/max ``ts``; first/last event id and type follow
    ``EVENT_ORDER``; ``session_value`` sums ``value`` exactly as
    ``decimal(18,2)``; ``is_purchase`` is 1 when any event is a
    ``purchase``."""
    order = F.struct(*EVENT_ORDER)
    start, end = F.min("ts"), F.max("ts")
    duration = duration_seconds(start, end)
    aggs = {
        "session_start_time": start,
        "session_end_time": end,
        "session_duration_seconds": duration,
        "session_duration_minutes": F.round(duration / 60.0, 2),
        "number_of_events": F.count("*"),
        "distinct_event_types": F.countDistinct("event_type"),
        "is_purchase": F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ),
        "session_value": F.sum(F.col("value").cast("decimal(18,2)")),
        "first_event_id": F.min_by("event_id", order),
        "last_event_id": F.max_by("event_id", order),
        "first_event_type": F.min_by("event_type", order),
        "last_event_type": F.max_by("event_type", order),
    }
    return [aggs[n].alias(n) for n in names]


def sessionize(df: DataFrame, order_cols: tuple[str, ...] = ()) -> DataFrame:
    """Assign a per-user session index from event-time gaps.

    Adds two columns:

    * ``session_seq`` — 1-based session ordinal within the user
      (deterministic: ordered by (ts, *order_cols*));
    * ``session_id`` — globally unique string key ``"{user}-{seq}"``.

    Events whose gap from the previous same-user event exceeds
    ``GAP_SECONDS`` open a new session (strict ``>``, matching
    streaming ``session_window`` semantics where an event at exactly
    the gap past the previous one extends the window).

    The gap is compared at native MICROSECOND precision — the same
    precision streaming ``session_window`` uses — so batch and
    streaming sessionization agree on boundary pairs.  (Round 1
    compared second-truncated epochs, which merges a pair whose
    truncated delta equals the gap while its true delta exceeds it;
    the DuckDB oracle CTE uses ``date_diff('microsecond', ...)`` to
    match exactly.)
    """
    order = [F.col("ts").asc(), *(F.col(c).asc() for c in order_cols)]
    w = Window.partitionBy("user_id").orderBy(*order)
    prev_ts = F.lag("ts").over(w)
    gap = epoch_micros(F.col("ts")) - epoch_micros(prev_ts)
    is_new = F.when(
        prev_ts.isNull() | (gap > GAP_SECONDS * 1_000_000), 1
    ).otherwise(0)
    running = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_seq", F.sum(is_new).over(running)).withColumn(
        "session_id", session_key(F.col("session_seq"))
    )


def session_rollup(df: DataFrame, session_col: str = "session_id") -> DataFrame:
    """Session-level aggregate — the reference's Q1
    (``spark_jobs/spark_batch_job.py:27-41``) generalized to the full
    ``user_session`` serving DDL (``spark_jobs/spark_stream.py:116-131``).

    ``session_col`` names the session key: ``sessionize``'s gap-derived
    ``session_id`` or a key the data already carries.  One hash
    aggregation (partial + final, single shuffle on the session key).
    """
    return df.groupBy("user_id", session_col).agg(*session_aggregates(*ROLLUP_COLS))


def session_rollup_full(
    df: DataFrame,
    with_events_json: bool = True,
    max_events: int | None = None,
) -> DataFrame:
    """Aggregate sessionized events to the reference's declared
    ``user_session`` serving table (DDL at
    ``spark_jobs/spark_stream.py:116-131``): start/end/duration (sec +
    minutes), event count, first/last event id and type, and the
    ordered event list serialized to a string column.

    The event list is the part the reference never shipped (its
    ``events_json TEXT`` column plus commented-out array-of-struct
    parse, ``spark_jobs/spark_batch_job.py:102-110``).  The collected
    struct array is sorted by ``EVENT_ORDER`` *inside* the aggregation
    (``array_sort`` on a leading-timestamp struct), so the
    serialization is deterministic under any partitioning — required
    for oracle hashes and for stable downstream parsing.

    Hot-key policy (``max_events``): ``collect_list`` state is
    O(session size), fine for human sessions, but one bot key with
    millions of events would materialize its whole list in one buffer
    and one output row.  With ``max_events=None`` this is ONE hash
    aggregation (the cheap path — use it when sessions are known to be
    bounded).  With ``max_events=K`` it is still one aggregation, over
    ranked rows: a ranking window numbers each session's events, and
    the list/trace columns collect through ``FILTER (WHERE <rank>)``
    admitting only the first ceil(K/2) and last floor(K/2) events,
    while the scalar columns aggregate every row; an
    ``events_truncated`` flag marks clipped sessions.  The window and
    the groupBy hash on the same (user, session) keys, so the cap
    costs one sort and no extra exchange, never an unbounded buffer
    (pinned in tests/test_functions.py).
    """
    event = F.struct(*EVENT_ORDER, "event_type")
    aggs = session_aggregates(
        "session_start_time",
        "session_end_time",
        "session_duration_seconds",
        "session_duration_minutes",
        "number_of_events",
        "first_event_id",
        "last_event_id",
        "first_event_type",
        "last_event_type",
    )

    if max_events is None:
        events = F.collect_list(event)
    else:
        if max_events < 2:
            raise ValueError(f"max_events must be >= 2, got {max_events}")
        head = max_events - max_events // 2
        tail = max_events // 2
        w_rank = Window.partitionBy("user_id", "session_id").orderBy(*EVENT_ORDER)
        w_all = Window.partitionBy("user_id", "session_id")
        # rank from the front; derive the back rank from the window
        # COUNT so one sort serves both bounds (same partitioning,
        # no second orderBy-desc sort spec).
        df = df.withColumns(
            {
                "_rn": F.row_number().over(w_rank),
                "_n": F.count("*").over(w_all),
                "_event": event,
            }
        )
        events = F.expr(
            f"collect_list(_event) FILTER (WHERE _rn <= {head} OR _rn > _n - {tail})"
        )
    sorted_events = F.array_sort(events)
    aggs.append(
        F.array_join(
            F.transform(
                sorted_events,
                lambda s: F.concat_ws(
                    ":", s["event_id"].cast("string"), s["event_type"]
                ),
            ),
            ",",
        ).alias("events_trace")
    )
    if with_events_json:
        aggs.append(F.to_json(sorted_events).alias("events_json"))
    out = df.groupBy("user_id", "session_id").agg(*aggs)
    if max_events is not None:
        out = out.withColumn(
            "events_truncated", F.col("number_of_events") > F.lit(max_events)
        )
    return out.withColumn(
        "date", F.date_format("session_start_time", "yyyy-MM-dd")
    )
