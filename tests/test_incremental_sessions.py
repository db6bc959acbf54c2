"""Incremental sessionization == batch sessionization, exactly.

The contract (operators/incremental_sessions.py): replaying days in
ascending order through ``advance_sessions`` and concatenating the
closed-session emissions plus ``finalize_sessions`` produces the
SAME rows — ids, ordinals, timestamps, aggregates, first/last event
types — as ``session_rollup(sessionize(all_events))`` over the full
history in one pass.  Fixture data barely crosses midnight (sf0.01
has one boundary pair), so the boundary cases are pinned on a
synthetic corpus built to cross it in every way that matters:
in-gap crossing (stitch), exactly-at-gap crossing (stitch — strict->
rule), just-over-gap crossing (close + reopen), multi-day absence
(close + reopen with correct ordinal), and a session spanning THREE
days (stitch twice).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
    advance_sessions,
    finalize_sessions,
)
from data_engineering_user_session_analysis_spark.operators.sessionize import (
    session_rollup,
    sessionize,
)
from data_engineering_user_session_analysis_spark.sources.events import load_events

GAP = 1800


def _replay(spark, events, tmp, gap_seconds=GAP):
    """Drive the incremental operator one calendar day at a time,
    round-tripping state through parquet exactly as a daily job
    would.  (NOT localCheckpoint: chaining eager localCheckpoints
    across daily steps pins every step's blocks and degrades from
    ~2 s/day to 16+ s/day by day 15 — measured; the state-table
    write/read is both the production pattern and the flat-cost
    one.)"""
    import os

    days = [
        r["d"]
        for r in events.select(F.to_date("ts").alias("d")).distinct().orderBy("d").collect()
    ]
    state = None
    for i, d in enumerate(days):
        day = events.filter(F.to_date("ts") == F.lit(d))
        closed, state = advance_sessions(day, state, gap_seconds=gap_seconds)
        closed.write.mode("append").parquet(os.path.join(tmp, "closed"))
        sp = os.path.join(tmp, f"state_{i}")
        state.write.mode("overwrite").parquet(sp)
        state = spark.read.parquet(sp)
    return finalize_sessions(state).unionByName(
        spark.read.parquet(os.path.join(tmp, "closed"))
    )


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: (t[0], t[1])
    )


def _assert_equal(incremental, batch):
    inc, bat = _rows(incremental), _rows(batch)
    assert len(inc) == len(bat)
    assert inc == bat


def test_incremental_equals_batch_on_fixture(spark, sf_small, tmp_path):
    ev = load_events(spark, sf_small)
    batch = session_rollup(sessionize(ev, order_cols=("event_id",)))
    _assert_equal(_replay(spark, ev, str(tmp_path)), batch)


def _mk_events(spark, rows):
    """rows: (user_id, iso_ts, event_id, event_type, value)"""
    data = [
        (u, dt.datetime.fromisoformat(ts), e, et, float(v))
        for (u, ts, e, et, v) in rows
    ]
    return spark.createDataFrame(
        data, "user_id long, ts timestamp, event_id long, event_type string, value double"
    )


def test_midnight_boundary_cases(spark, tmp_path):
    ev = _mk_events(
        spark,
        [
            # u1: one session crossing midnight inside the gap
            (1, "2024-03-01 23:50:00", 1, "view", 1.0),
            (1, "2024-03-02 00:10:00", 2, "purchase", 2.5),
            # u2: crossing at EXACTLY the gap -> still one session
            # (strict-> rule: delta > gap opens, delta == gap extends)
            (2, "2024-03-01 23:45:00", 3, "view", 1.0),
            (2, "2024-03-02 00:15:00", 4, "click", 0.0),
            # u3: crossing just OVER the gap -> close + reopen as -2
            (3, "2024-03-01 23:45:00", 5, "view", 1.0),
            (3, "2024-03-02 00:15:01", 6, "view", 1.0),
            # u4: absent a full day between sessions -> ordinal 2 on return
            (4, "2024-03-01 12:00:00", 7, "view", 3.0),
            (4, "2024-03-03 12:00:00", 8, "view", 4.0),
            # u5: ONE session spanning three days (stitched twice)
            (5, "2024-03-01 23:59:00", 9, "view", 1.0),
            (5, "2024-03-02 00:20:00", 10, "click", 1.0),
            (5, "2024-03-02 23:55:00", 11, "view", 1.0),  # same day, new session
            (5, "2024-03-03 00:05:00", 12, "purchase", 9.0),
        ],
    )
    batch = session_rollup(sessionize(ev, order_cols=("event_id",)))
    inc = _replay(spark, ev, str(tmp_path))
    _assert_equal(inc, batch)

    # spot-check the semantics the fixtures can't see: u1 has ONE
    # session spanning both days with the purchase flag set ...
    got = {r["session_id"]: r for r in inc.collect()}
    assert got["1-1"]["number_of_events"] == 2
    assert got["1-1"]["is_purchase"] == 1
    assert got["1-1"]["session_duration_seconds"] == 1200
    # ... u2 stitches at exactly the gap, u3 does not
    assert got["2-1"]["number_of_events"] == 2
    assert "3-2" in got and got["3-1"]["number_of_events"] == 1
    # ... u4's return session carries ordinal 2 across the absent day
    assert "4-2" in got
    # ... u5's second session crosses the second midnight stitched
    assert got["5-1"]["number_of_events"] == 2
    assert got["5-2"]["number_of_events"] == 2
    assert got["5-2"]["is_purchase"] == 1



def _lake_replay(spark, events, tmp, gap_seconds=GAP):
    """Drive the step the way the registry row does: a date-partitioned
    lake, one ``advance_sessions`` per day over a partition filter,
    each fold written to a per-day ``materialize_dir``."""
    import os

    lake_dir = os.path.join(tmp, "lake")
    events.withColumn("_d", F.to_date("ts")).repartition("_d").write.partitionBy(
        "_d"
    ).parquet(lake_dir)
    lake = spark.read.parquet(lake_dir)
    days = [r["_d"] for r in lake.select("_d").distinct().orderBy("_d").collect()]
    state, parts = None, []
    for i, d in enumerate(days):
        closed, state = advance_sessions(
            lake.filter(F.col("_d") == d),
            state,
            gap_seconds=gap_seconds,
            materialize_dir=os.path.join(tmp, f"step_{i}"),
        )
        parts.append(closed)
    out = finalize_sessions(state)
    for c in parts:
        out = out.unionByName(c)
    return out


def test_sql_replay_equals_dataframe_replay(spark, tmp_path):
    """The registry row's replay shape (partitioned lake, SQL fold
    written to parquet per day) and the production shape
    (``_replay``: checkpointed fold, explicit state-table write) run
    the same step and must agree bit-for-bit on the corpus built to
    cross midnight every way that matters, and with the batch rollup
    (the ground truth both replays must equal)."""
    ev = _mk_events(
        spark,
        [
            (1, "2024-03-01 23:50:00", 1, "view", 1.0),
            (1, "2024-03-02 00:10:00", 2, "purchase", 2.5),
            (2, "2024-03-01 23:45:00", 3, "view", 1.0),
            (2, "2024-03-02 00:15:00", 4, "click", 0.0),
            (3, "2024-03-01 23:45:00", 5, "view", 1.0),
            (3, "2024-03-02 00:15:01", 6, "view", 1.0),
            (4, "2024-03-01 12:00:00", 7, "view", 3.0),
            (4, "2024-03-03 12:00:00", 8, "view", 4.0),
            (5, "2024-03-01 23:59:00", 9, "view", 1.0),
            (5, "2024-03-02 00:20:00", 10, "click", 1.0),
            (5, "2024-03-02 23:55:00", 11, "view", 1.0),
            (5, "2024-03-03 00:05:00", 12, "purchase", 9.0),
            # null-user rows: one NULL partition, midnight-stitched
            (None, "2024-03-01 23:58:00", 13, "view", 1.0),
            (None, "2024-03-02 00:05:00", 14, "click", 2.0),
        ],
    )
    lake_replay = _lake_replay(spark, ev, str(tmp_path / "lake_run"))
    df_replay = _replay(spark, ev, str(tmp_path / "df"))
    batch = session_rollup(sessionize(ev, order_cols=("event_id",)))
    # names + types (nullability differs trivially: _replay's closed
    # rows round-trip through an append-mode parquet dir)
    assert [(f.name, f.dataType) for f in lake_replay.schema.fields] == [
        (f.name, f.dataType) for f in df_replay.schema.fields
    ]

    # None-safe row compare (the fixture's NULL user_id breaks the
    # shared _assert_equal's (user, session) tuple sort)
    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=str)

    assert rows(lake_replay) == rows(df_replay)
    assert rows(lake_replay) == rows(batch)


def test_sql_step_plan_has_one_exchange(spark, tmp_path):
    """The fold's scale claim in the replay's shape: a mid-replay step
    over one pruned lake partition and a parquet-backed carry is
    scan -> ONE hash(user) exchange -> window chain -> agg -> project.
    The rollup GROUP BY (user, seq) and the open/closed window both
    reuse the exchange via the subset rule — a second Exchange or a
    join in this plan means a formulation regression."""
    from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
        _STEP_SQL,
    )

    ev = _mk_events(
        spark,
        [
            (1, "2024-03-01 23:50:00", 1, "view", 1.0),
            (1, "2024-03-02 00:10:00", 2, "purchase", 2.5),
        ],
    ).withColumn("_d", F.to_date("ts"))
    lake_dir = str(tmp_path / "lake")
    ev.repartition("_d").write.partitionBy("_d").parquet(lake_dir)
    lake = spark.read.parquet(lake_dir)
    days = [r["_d"] for r in lake.select("_d").distinct().orderBy("_d").collect()]
    _, state = advance_sessions(
        lake.filter(F.col("_d") == days[0]),
        None,
        materialize_dir=str(tmp_path / "s0"),
    )
    step = spark.sql(
        _STEP_SQL,
        args={"gap_us": GAP * 1_000_000},
        day=lake.filter(F.col("_d") == days[1]),
        state=state,
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan

def test_registry_replay_equals_batch_on_fixture(spark, sf_small):
    """The registry row's replay (date-partitioned lake, one
    ``advance_sessions`` per day with a per-day ``materialize_dir``)
    equals the batch rollup."""
    from data_engineering_user_session_analysis_spark.queries.session_queries import (
        session_rollup_incremental,
    )

    batch = session_rollup(
        sessionize(load_events(spark, sf_small), order_cols=("event_id",))
    ).withColumn("session_value", F.col("session_value").cast("double"))
    _assert_equal(session_rollup_incremental(spark, sf_small), batch)


def test_registry_replay_refuses_null_ts(spark, sf_small, tmp_path):
    """An event with a null ts belongs to no day: the registry row
    must fail with a named error, never drop the row silently (its
    lake partition would be ``__HIVE_DEFAULT_PARTITION__``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from data_engineering_user_session_analysis_spark.queries.session_queries import (
        session_rollup_incremental,
    )

    events = pq.read_table(f"{sf_small}/events.parquet")
    bad = pa.Table.from_pylist(
        [
            {
                "event_id": 10**9,
                "ts": None,
                "user_id": events["user_id"][0].as_py(),
                "event_type": "view",
                "value": 1.0,
                "props": "{}",
            }
        ],
        schema=events.schema,
    )
    pq.write_table(pa.concat_tables([events, bad]), tmp_path / "events.parquet")
    with pytest.raises(ValueError, match="null ts"):
        session_rollup_incremental(spark, str(tmp_path))


def test_incremental_replay_property(spark, tmp_path_factory):
    """Property pin for the r14 seeded-carry formulation: ANY event
    stream, split at calendar-day boundaries and replayed through
    advance_sessions, must equal batch sessionization of the union —
    hot users (id = eid % 3) force carries, merges, multi-session
    days, and user-absent days across the 3-day window."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10**6),
                st.datetimes(
                    min_value=dt.datetime(2024, 1, 1),
                    max_value=dt.datetime(2024, 1, 4),
                ),
                st.sampled_from(["view", "click", "purchase"]),
                st.integers(min_value=0, max_value=9999),
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda e: e[0],
        )
    )
    def run(events):
        df = spark.createDataFrame(
            [
                (eid % 3, ts, eid, et, cents / 100.0)
                for (eid, ts, et, cents) in events
            ],
            "user_id long, ts timestamp, event_id long, "
            "event_type string, value double",
        )
        batch = session_rollup(sessionize(df, order_cols=("event_id",)))
        days = sorted(
            r["d"]
            for r in df.select(F.to_date("ts").alias("d")).distinct().collect()
        )
        state = None
        closed_frames = []
        for d in days:
            closed, state = advance_sessions(
                df.filter(F.to_date("ts") == F.lit(d)), state
            )
            closed_frames.append(closed)
        inc = finalize_sessions(state)
        for c in closed_frames:
            inc = inc.unionByName(c)
        assert sorted(map(tuple, inc.collect())) == sorted(
            map(tuple, batch.collect())
        )

    run()


def test_closed_sessions_never_reemitted(spark, tmp_path):
    """Each session id is emitted exactly once across the whole replay
    (closed means closed — a downstream sink can append blindly)."""
    ev = _mk_events(
        spark,
        [
            (1, "2024-03-01 10:00:00", 1, "view", 1.0),
            (1, "2024-03-01 11:00:00", 2, "view", 1.0),
            (1, "2024-03-02 09:00:00", 3, "view", 1.0),
            (1, "2024-03-03 09:00:00", 4, "view", 1.0),
        ],
    )
    inc = _replay(spark, ev, str(tmp_path))
    ids = [r["session_id"] for r in inc.collect()]
    assert len(ids) == len(set(ids)) == 4


def test_incremental_plan_is_user_partitioned(spark):
    """The daily step must stay O(day + active users): a mid-replay
    fold is scan -> ONE hash(user) exchange -> window chain -> agg.
    The rollup GROUP BY (user, seq) and the open/closed window reuse
    the exchange via the subset rule; a second Exchange, a join, a
    cartesian or a nested-loop join against state is a formulation
    regression."""
    from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
        _STEP_SQL,
    )

    ev = _mk_events(spark, [(1, "2024-03-01 10:00:00", 1, "view", 1.0)])
    _, state = advance_sessions(ev, None)
    day2 = _mk_events(spark, [(1, "2024-03-02 10:00:00", 2, "view", 1.0)])
    fold = spark.sql(
        _STEP_SQL, args={"gap_us": GAP * 1_000_000}, day=day2, state=state
    )
    plan = fold._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_run_incremental_sessions_job(spark, sf_small, tmp_path):
    """The job verb end-to-end over a real partitioned lake: replaying
    `job sessions <ds>` for every day then finalizing the last state
    equals batch sessionization of the whole lake; re-running the
    last day is idempotent (same outputs, no duplicates)."""
    import os

    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        build_lake,
        run_incremental_sessions,
    )

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    ev = load_events(spark, sf_small)
    days = sorted(
        r["d"]
        for r in ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct().collect()
    )[:6]
    for ds in days:
        report = run_incremental_sessions(spark, spark.read.parquet(lake), ds, out)
        assert report["open"] > 0
    rerun = run_incremental_sessions(
        spark, spark.read.parquet(lake), days[-1], out
    )  # idempotent
    assert rerun == report

    closed = spark.read.parquet(os.path.join(out, "session_closed"))
    state = spark.read.parquet(os.path.join(out, "session_state", f"ds={days[-1]}"))
    inc = finalize_sessions(state).unionByName(
        closed.drop("ds") if "ds" in closed.columns else closed
    )
    batch = session_rollup(
        sessionize(
            ev.filter(F.date_format("ts", "yyyy-MM-dd") <= days[-1]),
            order_cols=("event_id",),
        )
    )
    _assert_equal(inc, batch)


def test_late_data_replay_from_affected_day(spark, tmp_path):
    """Late-landing data recovery: when an event lands late in an
    already-processed day K, replaying the verbs from K forward (each
    run overwrites its own closed/state partitions) converges to the
    batch result over the corrected history — no day-1 restart."""
    import os

    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        run_incremental_sessions,
    )

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    base_rows = [
        (1, "2024-03-01 10:00:00", 1, "view", 1.0),
        (1, "2024-03-02 23:55:00", 2, "view", 1.0),
        (1, "2024-03-03 00:10:00", 3, "view", 1.0),  # stitches into day-2 session
        (2, "2024-03-01 09:00:00", 4, "view", 1.0),
        (2, "2024-03-03 09:00:00", 5, "view", 1.0),
    ]
    late_row = (2, "2024-03-02 09:00:00", 6, "purchase", 5.0)  # lands late in day 2

    def _write_lake(rows):
        _mk_events(spark, rows).withColumn(
            "date", F.date_format("ts", "yyyy-MM-dd")
        ).write.mode("overwrite").partitionBy("date").parquet(lake)

    days = ("2024-03-01", "2024-03-02", "2024-03-03")
    _write_lake(base_rows)
    for ds in days:
        run_incremental_sessions(spark, spark.read.parquet(lake), ds, out)

    # the late event arrives; day 2 and everything after replays
    _write_lake(base_rows + [late_row])
    for ds in days[1:]:
        run_incremental_sessions(spark, spark.read.parquet(lake), ds, out)

    closed = spark.read.parquet(os.path.join(out, "session_closed")).drop("ds")
    state = spark.read.parquet(os.path.join(out, "session_state", f"ds={days[-1]}"))
    inc = finalize_sessions(state).unionByName(closed)
    batch = session_rollup(
        sessionize(_mk_events(spark, base_rows + [late_row]), order_cols=("event_id",))
    )
    _assert_equal(inc, batch)
    # the late purchase is now inside user 2's day-2 session
    got = {r["session_id"]: r for r in inc.collect()}
    assert got["2-2"]["is_purchase"] == 1


def test_null_user_rows_match_batch(spark, tmp_path):
    """Null-key events group into one window partition in batch
    sessionization (`sessionize` windows over user_id), so the
    incremental fold must stitch them identically across midnight.
    The pre-round-7 join-based fold diverged here (inner-join merge
    flags never matched null keys, so a null-key carry could neither
    stitch nor close); the window-based fold inherits the batch
    semantics by construction.  Production verbs still quarantine
    null keys — this pins the OPERATOR contract: incremental == batch
    on any input."""
    rows = [
        # null user: one session crossing midnight inside the gap
        (None, "2024-03-01 23:50:00", 1, "view", 1.0),
        (None, "2024-03-02 00:05:00", 2, "purchase", 2.0),
        # and a later same-day session after the gap
        (None, "2024-03-02 10:00:00", 3, "view", 0.5),
        # a normal user for contrast
        (7, "2024-03-01 12:00:00", 4, "view", 1.0),
    ]
    ev = _mk_events(spark, rows)
    batch = session_rollup(sessionize(ev, order_cols=("event_id",)))
    inc = _replay(spark, ev, str(tmp_path))
    a = {tuple(r) for r in batch.collect()}
    b = {tuple(r) for r in inc.collect()}
    assert a == b and len(a) == 3  # null crossing session, null later session, u7


def test_materialize_dir_equals_checkpoint_replay(spark, sf_small, tmp_path):
    """The one-job-per-day materialize_dir path (the bench replay's
    shape: combined fold written once, closed AND state derived as
    filters over the parquet) must produce the exact same stitched
    result as the checkpoint + explicit-state-write replay."""
    import os

    ev = load_events(spark, sf_small)
    batch = session_rollup(sessionize(ev, order_cols=("event_id",)))
    days = [
        r["d"]
        for r in ev.select(F.to_date("ts").alias("d")).distinct().orderBy("d").collect()
    ]
    state, closed_frames = None, []
    for i, d in enumerate(days):
        closed, state = advance_sessions(
            ev.filter(F.to_date("ts") == F.lit(d)),
            state,
            materialize_dir=os.path.join(str(tmp_path), f"step_{i}"),
        )
        closed_frames.append(closed)
    # state must already be parquet-backed: no window/exchange in its
    # plan, just a scan + filter (that is the point of the fold-in)
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    from functools import reduce

    inc = reduce(lambda a, b: a.unionByName(b), closed_frames).unionByName(
        finalize_sessions(state)
    )
    _assert_equal(inc, batch)


def test_replay_day_scan_is_partition_pruned(spark, tmp_path):
    """The registry row's replay reads the lake through ONE
    partition-aware relation and repoints each day with a filter on
    the partition column — that is only a win if the day scan
    actually PRUNES back to the one directory at planning.  Pin the
    PartitionFilters on the exact construction the replay uses
    (inferred date partition column, equality filter on a day taken
    from the data)."""
    ev = _mk_events(
        spark,
        [
            (1, "2024-03-01 10:00:00", 1, "view", 1.0),
            (1, "2024-03-02 10:00:00", 2, "view", 1.0),
            (1, "2024-03-03 10:00:00", 3, "view", 1.0),
        ],
    ).withColumn("_d", F.to_date("ts"))
    days = [r["_d"] for r in ev.select("_d").distinct().orderBy("_d").collect()]
    lake = str(tmp_path / "lake")
    ev.repartition("_d").write.partitionBy("_d").parquet(lake)
    one_day = spark.read.parquet(lake).filter(F.col("_d") == days[1])
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert str(days[1]) in plan, plan
    # the pruned scan must read exactly the one day's rows
    assert one_day.count() == 1
    assert one_day.select("event_id").collect()[0][0] == 2


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
@pytest.mark.parametrize(
    "carry_ts,day_ts", [("timestamp", "timestamp_ntz"), ("timestamp_ntz", "timestamp")]
)
def test_carry_of_the_other_timestamp_flavor_still_folds(
    spark, tmp_path, fmt, carry_ts, day_ts
):
    """A carry partition folded from a lake whose ``ts`` had the other
    timestamp flavor (TIMESTAMP vs TIMESTAMP_NTZ) still folds into the
    next day to exactly the batch sessions, in either direction and
    format: parquet reads it with the day's state schema, ORC keeps
    the carry's own."""
    import os

    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        run_incremental_sessions,
    )

    ev = _mk_events(
        spark,
        [
            (1, "2024-03-01 23:50:00", 1, "view", 1.0),
            (1, "2024-03-02 00:10:00", 2, "purchase", 2.5),  # stitches
            (2, "2024-03-01 10:00:00", 3, "view", 1.0),
            (2, "2024-03-02 09:00:00", 4, "click", 0.0),  # closes the carry
            (3, "2024-03-01 01:00:00", 5, "view", 1.0),  # closed on day 1
            (3, "2024-03-01 05:00:00", 6, "view", 3.0),
        ],
    )
    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    ev.withColumn("date", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "date"
    ).format(fmt).save(lake)
    relation = spark.read.format(fmt).load(lake)
    days = (("2024-03-01", carry_ts), ("2024-03-02", day_ts))
    for ds, flavor in days:
        run_incremental_sessions(
            spark, relation.withColumn("ts", F.col("ts").cast(flavor)), ds, out, fmt=fmt
        )

    def as_text(df):
        text = df.select([F.col(c).cast("string") for c in df.columns])
        return [tuple(r) for r in text.collect()]

    got = as_text(
        finalize_sessions(
            spark.read.format(fmt).load(os.path.join(out, "session_state", "ds=2024-03-02"))
        )
    )
    for ds, _ in days:
        got += as_text(
            spark.read.format(fmt).load(os.path.join(out, "session_closed", f"ds={ds}"))
        )
    want = as_text(
        session_rollup(
            sessionize(ev.withColumn("ts", F.col("ts").cast(day_ts)), order_cols=("event_id",))
        )
    )
    assert len(want) == 5
    assert sorted(got) == sorted(want)
