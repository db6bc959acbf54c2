"""Full session rollup — the reference's declared `user_session`
serving table (DDL at ``spark_jobs/spark_stream.py:116-131``):
start/end/duration (sec + minutes), event count, first/last
product-like fields, and the ordered event list serialized to a
string column.

The event list is the part the reference never shipped (its
``events_json TEXT`` column plus commented-out array-of-struct parse,
``spark_jobs/spark_batch_job.py:102-110``).  Spark-first: sort the
collected struct array by (ts, event_id) *inside* the aggregation
(``array_sort`` on a leading-timestamp struct), so the serialization
is deterministic under any partitioning — required for oracle hashes
and for stable downstream parsing.

Works for both session models: gap-derived ``session_id`` or a
data-assigned key column (SURVEY.md §2.9) — the operator only needs
*some* session key.

Hot-key policy (``max_events``): ``collect_list`` state is O(session
size), which is fine for human sessions (10s-100s of events) but one
pathological key — bot traffic putting millions of events under one
session — materializes the whole list in a single aggregation buffer
and a single output row.  With ``max_events=K`` the collection is
BOUNDED INSIDE the aggregation: a per-session ranking window numbers
the events, and the list/trace columns collect with a ``FILTER``
clause that admits only the first ceil(K/2) and last floor(K/2)
events (the head carries session intent, the tail carries the exit
path — the standard truncation for session traces); an
``events_truncated`` flag marks affected sessions.  Scalar
aggregates (count, min/max, first/last event) in the SAME aggregate
see every row, so only the trace is clipped.  Equality with the
uncapped form whenever every session fits under K, and
bounded-buffer completion on a hot key, are pinned in
tests/test_functions.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.sessionize import epoch_seconds


def session_rollup_full(
    df: DataFrame,
    session_col: str = "session_id",
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_type_col: str = "event_type",
    id_col: str = "event_id",
    with_events_json: bool = True,
    max_events: int | None = None,
) -> DataFrame:
    """Aggregate events to the full serving-table schema.

    With ``max_events=None`` this is ONE hash aggregation (the cheap
    path — use it when sessions are known to be bounded).  With a
    cap it is still one aggregation, over ranked rows: a ranking
    window numbers each session's events, and the trace columns
    collect through ``FILTER (WHERE <head or tail rank>)`` while the
    scalar columns aggregate every row.  The window and the groupBy
    hash on the same (user, session) keys, so the cap costs one sort
    and no extra exchange, never an unbounded buffer.
    """
    order = F.struct(F.col(ts_col), F.col(id_col))
    event = F.struct(F.col(ts_col), F.col(id_col), F.col(event_type_col))
    start, end = F.min(ts_col), F.max(ts_col)
    dur_sec = epoch_seconds(end) - epoch_seconds(start)
    aggs = [
        start.alias("session_start_time"),
        end.alias("session_end_time"),
        dur_sec.alias("session_duration_seconds"),
        F.round(dur_sec / 60.0, 2).alias("session_duration_minutes"),
        F.count("*").alias("number_of_events"),
        F.min_by(id_col, order).alias("first_event_id"),
        F.max_by(id_col, order).alias("last_event_id"),
        F.min_by(event_type_col, order).alias("first_event_type"),
        F.max_by(event_type_col, order).alias("last_event_type"),
    ]

    if max_events is None:
        events = F.collect_list(event)
    else:
        if max_events < 2:
            raise ValueError(f"max_events must be >= 2, got {max_events}")
        head = max_events - max_events // 2
        tail = max_events // 2
        w_rank = Window.partitionBy(user_col, session_col).orderBy(
            F.col(ts_col), F.col(id_col)
        )
        w_all = Window.partitionBy(user_col, session_col)
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
                    ":", s[id_col].cast("string"), s[event_type_col]
                ),
            ),
            ",",
        ).alias("events_trace")
    )
    if with_events_json:
        aggs.append(F.to_json(sorted_events).alias("events_json"))
    out = df.groupBy(user_col, session_col).agg(*aggs)
    if max_events is not None:
        out = out.withColumn(
            "events_truncated", F.col("number_of_events") > F.lit(max_events)
        )
    return out.withColumn(
        "date", F.date_format("session_start_time", "yyyy-MM-dd")
    )
