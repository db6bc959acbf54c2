"""Unit pins for the event-time derivations, the session rollup and
sessionization invariants (SURVEY.md §5.4)."""

from __future__ import annotations

import datetime
import json

from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.rollup_full import session_rollup_full
from data_engineering_user_session_analysis_spark.operators.sessionize import epoch_seconds, sessionize
from data_engineering_user_session_analysis_spark.sources.events import load_events
from data_engineering_user_session_analysis_spark.streaming.ingest_stream import enrich_events


def test_enrich_events_derived_columns(spark):
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 13, 45, 0),)], ["ts"]
    )
    row = enrich_events(df).collect()[0]
    assert row.date == datetime.date(2024, 1, 1)
    assert row.date_of_week == "Monday"
    assert row.hour_of_day == 13
    assert row.extracted_date == datetime.date.today()


def test_sessionize_invariants(spark, sf_small):
    """Sessions partition each user's events; intra-session gaps
    <= 30 min; inter-session gaps > 30 min."""
    ev = load_events(spark, sf_small)
    s = sessionize(ev, order_cols=("event_id",))
    assert s.count() == ev.count()  # no events lost or duplicated

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = s.withColumns(
        {
            "prev_ts": F.lag("ts").over(w),
            "prev_session": F.lag("session_id").over(w),
        }
    ).filter(F.col("prev_ts").isNotNull())
    gap = epoch_seconds(F.col("ts")) - epoch_seconds(F.col("prev_ts"))
    same = flagged.filter(F.col("session_id") == F.col("prev_session"))
    diff = flagged.filter(F.col("session_id") != F.col("prev_session"))
    assert same.filter(gap > 1800).count() == 0
    assert diff.filter(gap <= 1800).count() == 0


def test_events_json_roundtrip(spark, sf_small):
    """events_json is valid JSON, time-ordered, and consistent with
    number_of_events (property from SURVEY.md §5.4)."""
    s = sessionize(load_events(spark, sf_small), order_cols=("event_id",))
    full = session_rollup_full(s)
    rows = full.limit(50).collect()
    assert rows
    for r in rows:
        events = json.loads(r.events_json)
        assert len(events) == r.number_of_events
        ts_list = [e["ts"] for e in events]
        assert ts_list == sorted(ts_list)
        assert events[0]["event_id"] == r.first_event_id
        assert events[-1]["event_id"] == r.last_event_id


def test_rollup_full_cap_equals_uncapped_when_under(spark, sf_small):
    """With every fixture session far below the cap, the capped plan
    (ranking window + one aggregate whose trace collects through a
    FILTER clause) must produce exactly the uncapped single-aggregation
    result, plus an all-false events_truncated flag."""
    s = sessionize(load_events(spark, sf_small), order_cols=("event_id",))
    uncapped = session_rollup_full(s)
    capped = session_rollup_full(s, max_events=10_000)
    assert capped.filter(F.col("events_truncated")).count() == 0
    cols = uncapped.columns
    a = {tuple(r) for r in uncapped.select(*cols).collect()}
    b = {tuple(r) for r in capped.select(*cols).collect()}
    assert a == b


def test_rollup_full_hot_key_bounded(spark):
    """Hot-key policy: one bot session with 200k events must complete
    with a bounded trace — first ceil(K/2) + last floor(K/2) event
    ids, truncation flagged, scalar aggregates still exact over the
    FULL set."""
    import datetime

    n, cap = 200_000, 100
    base = datetime.datetime(2024, 1, 1)
    ev = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (F.lit(base) + F.make_interval(secs=F.col("id") * 0.001)).alias("ts"),
            F.lit(7).alias("user_id"),
            F.lit("view").alias("event_type"),
        )
        .withColumn("session_id", F.lit("7-1"))
    )
    out = session_rollup_full(ev, max_events=cap).collect()
    assert len(out) == 1
    r = out[0]
    assert r.number_of_events == n
    assert bool(r.events_truncated) is True
    events = json.loads(r.events_json)
    assert len(events) == cap
    ids = [e["event_id"] for e in events]
    assert ids == list(range(50)) + list(range(n - 50, n))
    # scalar aggregates come from the full set, not the clipped trace
    assert r.first_event_id == 0 and r.last_event_id == n - 1
    assert r.events_trace.count(":") == cap
    # plan shape: the head/tail rank filter sits BELOW the list
    # aggregation (the collect buffer is bounded by construction, not
    # clipped after an unbounded collect)
    plan = session_rollup_full(ev, max_events=cap)._jdf.queryExecution().executedPlan().toString()
    filter_pos = plan.find("_rn")
    agg_pos = plan.find("collect_list")
    assert 0 <= agg_pos < filter_pos, "rank filter must feed the collect"


def test_rollup_full_cap_one_exchange_no_join(spark, sf_small):
    """The capped rollup over a sessionized frame is one aggregate on
    sessionize's user_id exchange: no join, and the sessionize
    shuffle is the plan's only exchange."""
    s = sessionize(load_events(spark, sf_small), order_cols=("event_id",))
    plan = (
        session_rollup_full(s, max_events=10_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_rollup_full_cap_keeps_null_keys(spark):
    """Null grouping keys are legitimate groups in the uncapped path;
    the capped path's ranking window and FILTER aggregate must keep
    them too, not silently drop the session."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    ev = spark.range(6).select(
        F.col("id").alias("event_id"),
        (F.lit(base) + F.make_interval(secs=F.col("id"))).alias("ts"),
        F.when(F.col("id") < 3, F.lit(1)).alias("user_id"),  # 3 null rows
        F.lit("view").alias("event_type"),
        F.when(F.col("id") < 3, F.lit("1-1")).alias("session_id"),
    )
    uncapped = session_rollup_full(ev)
    capped = session_rollup_full(ev, max_events=100)
    assert uncapped.count() == 2  # (1,'1-1') and (null,null)
    assert capped.count() == 2
    cols = uncapped.columns
    a = {tuple(r) for r in uncapped.select(*cols).collect()}
    b = {tuple(r) for r in capped.select(*cols).collect()}
    assert a == b
