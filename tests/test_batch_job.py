"""End-to-end daily batch job: lake build → partition-pruned day read
→ concurrent serving writes → serving outputs (SURVEY.md §3.2
lifecycle)."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.jobs.batch_job import build_lake, run_daily_job
from data_engineering_user_session_analysis_spark.sources.events import load_events


def test_daily_job_end_to_end(spark, sf_small, tmp_path):
    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)

    # pick a mid-range day with data
    ds = (
        load_events(spark, sf_small)
        .select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .groupBy("d")
        .count()
        .orderBy(F.col("count").desc())
        .first()
        .d
    )
    results = run_daily_job(spark, spark.read.parquet(lake), ds, out)

    # outputs exist and are non-empty
    for name in ("session_level", "session_full", "user_level"):
        written = spark.read.parquet(os.path.join(out, name))
        assert written.count() > 0, name

    # user_level totals agree with a direct computation on that day
    direct = (
        load_events(spark, sf_small)
        .filter(F.date_format("ts", "yyyy-MM-dd") == ds)
        .groupBy("user_id")
        .count()
    )
    job_counts = results["user_level"].select("user_id", "n_events")
    joined = direct.join(job_counts, "user_id")
    assert joined.filter(F.col("count") != F.col("n_events")).count() == 0
    assert direct.count() == job_counts.count()


def test_daily_job_runs_on_orc_lake(spark, sf_small, tmp_path):
    """The job's format knob: same pipeline over an ORC lake — day
    results must match the parquet run row-for-row, and the composed
    daily pipeline must compact the previous day's partition as ORC
    (compaction reading it as parquet fails on day 2)."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake_pq, out_pq = str(tmp_path / "lake_pq"), str(tmp_path / "out_pq")
    lake_orc, out_orc = str(tmp_path / "lake_orc"), str(tmp_path / "out_orc")
    build_lake(spark, sf_small, lake_pq)
    build_lake(spark, sf_small, lake_orc, fmt="orc")
    ds = "2024-01-05"
    pq = run_daily_job(spark, spark.read.parquet(lake_pq), ds, out_pq)
    orc = run_daily_job(spark, spark.read.orc(lake_orc), ds, out_orc, fmt="orc")
    for name in ("session_level", "user_level"):
        a = {tuple(r) for r in pq[name].collect()}
        b = {tuple(r) for r in orc[name].collect()}
        assert a == b, f"{name} diverged across lake formats"
        assert a, f"{name} empty — vacuous"
    written = spark.read.orc(os.path.join(out_orc, "user_level"))
    assert written.count() > 0

    pipe_out = str(tmp_path / "out_orc_pipeline")
    day1 = os.path.join(lake_orc, "date=2024-01-01")
    before = sorted(map(tuple, spark.read.orc(day1).collect()))
    assert before, "day 1 empty — vacuous"
    reports = [
        run_daily_pipeline(spark, lake_orc, d, pipe_out, fmt="orc")
        for d in ("2024-01-01", "2024-01-02")
    ]
    assert "compacted_previous" not in reports[0]
    compacted = reports[1]["compacted_previous"]
    assert compacted["path"].endswith("date=2024-01-01")
    assert compacted["files_after"] == 1
    assert sorted(map(tuple, spark.read.orc(day1).collect())) == before


def test_day_read_prunes_partitions(spark, sf_small, tmp_path):
    """The date filter must reach the scan as a partition filter —
    at 100 TB this is the difference between reading one day and the
    whole lake."""
    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    ds = "2024-01-05"
    day = spark.read.parquet(lake).filter(F.col("date") == ds)
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert ds in plan


def test_compact_verb_after_daily_job(spark, sf_small, tmp_path):
    """Maintenance cadence: run the day, then compact its (closed)
    partition — day results must be identical when recomputed from
    the compacted lake."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import compact_closed_partition

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    ds = "2024-01-05"
    before = {
        tuple(r)
        for r in run_daily_job(spark, spark.read.parquet(lake), ds, out)[
            "user_level"
        ].collect()
    }
    report = compact_closed_partition(spark, lake, ds)
    assert report["files_after"] <= report["files_before"]
    after = {
        tuple(r)
        for r in run_daily_job(
            spark, spark.read.parquet(lake), ds, str(tmp_path / "serving2")
        )["user_level"].collect()
    }
    assert after == before


#: command lines ``main`` must refuse by name, with the message
#: pattern each one exits with
BAD_COMMAND_LINES = [
    (["span-index", "2024-01-05", "{tmp}/idx"], "'span-index'.*daily"),
    (["reindex", "{tmp}/idx"], "'reindex'.*daily"),
    (["20240105", "{tmp}/lake"], "'20240105'.*daily"),
    (["sessions", "2024-1-5", "{tmp}/lake"], "sessions: '2024-1-5'"),
    (["backfill", "2024-01-01", "2024-W01-1", "{tmp}/lake"], "'2024-W01-1'"),
    (["compact", "2024-01-05T00:00", "{tmp}/lake"], "compact: '2024-01-05T00:00'"),
    (["daily"], "daily: missing date"),
    (["daily", "2024-01-05", "--recall-check"], "'--recall-check'"),
    (["daily", "2024-01-05", "--span-index", "{tmp}/lake"], "'--span-index'"),
]


def test_unknown_verb_fails_before_spark(tmp_path, monkeypatch):
    """An unrecognized verb, an option, or a date that is not
    canonical YYYY-MM-DD: ``main`` must refuse each by name before it
    starts a session or writes anything (``job 20240105`` once wrote
    serving tables under ``ds=20240105``; ``job sessions 2024-1-5``
    wrote a state partition that string order sorts after
    ``2024-09-30``)."""
    import data_engineering_user_session_analysis_spark as pkg
    from data_engineering_user_session_analysis_spark.jobs.batch_job import main

    def no_spark(*_a, **_k):
        raise AssertionError("get_spark called for a bad command line")

    monkeypatch.setattr(pkg, "get_spark", no_spark)
    for k, (args, message) in enumerate(BAD_COMMAND_LINES):
        case = tmp_path / f"case{k}"
        case.mkdir()
        monkeypatch.setenv("LAKE_PATH", str(case / "lake"))
        monkeypatch.setenv("SERVING_PATH", str(case / "serving"))
        with pytest.raises(SystemExit, match=message):
            main(["job", *(a.format(tmp=case) for a in args)])
        assert list(case.iterdir()) == [], args


def test_daily_pipeline_rejects_bad_ds_before_writing(spark, sf_small, tmp_path):
    """The pipeline parses ``ds`` before its first write: a malformed
    date leaves no quarantine, session or serving partition behind."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    out = tmp_path / "serving"
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        run_daily_pipeline(spark, lake, "20240105", str(out))
    assert not out.exists()


def test_prior_carry_refuses_non_canonical_state_partition(spark, sf_small, tmp_path):
    """A leftover ``session_state/ds=2024-1-5`` sorts after
    ``2024-09-30`` as a string; the step must refuse it by name
    instead of taking it as 2024-10-01's carry, and write nothing."""
    import shutil

    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        run_incremental_sessions,
    )

    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    lake_df = spark.read.parquet(lake)
    out = tmp_path / "serving"
    run_incremental_sessions(spark, lake_df, "2024-01-05", str(out))
    state_root = out / "session_state"
    os.rename(state_root / "ds=2024-01-05", state_root / "ds=2024-09-30")
    shutil.copytree(state_root / "ds=2024-09-30", state_root / "ds=2024-1-5")
    with pytest.raises(ValueError, match="ds=2024-1-5"):
        run_incremental_sessions(spark, lake_df, "2024-10-01", str(out))
    assert not (out / "session_closed" / "ds=2024-10-01").exists()
    assert not (state_root / "ds=2024-10-01").exists()


def test_backfill_range_matches_daily_runs(spark, sf_small, tmp_path):
    """backfill(ds1..ds2) == the per-day jobs run individually, and
    re-running a subrange is idempotent (per-day overwrite)."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_backfill

    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    results = run_backfill(
        spark, lake, "2024-01-05", "2024-01-06", str(tmp_path / "bf")
    )
    assert set(results) == {"2024-01-05", "2024-01-06"}
    single = run_daily_job(
        spark, spark.read.parquet(lake), "2024-01-05", str(tmp_path / "one")
    )
    a = {tuple(r) for r in results["2024-01-05"]["user_level"].collect()}
    b = {tuple(r) for r in single["user_level"].collect()}
    assert a == b
    # idempotent re-run of one day inside the range
    again = run_backfill(
        spark, lake, "2024-01-05", "2024-01-05", str(tmp_path / "bf")
    )
    c = {tuple(r) for r in again["2024-01-05"]["user_level"].collect()}
    assert c == b


def test_backfill_runs_on_orc_lake(spark, sf_small, tmp_path):
    """A backfill over an ORC lake reads it as ORC and writes every
    serving table of every day in the range as ORC."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_backfill

    lake = str(tmp_path / "lake_orc")
    out = str(tmp_path / "bf")
    build_lake(spark, sf_small, lake, fmt="orc")
    days = ("2024-01-05", "2024-01-06")
    results = run_backfill(spark, lake, *days, out, fmt="orc")
    assert set(results) == set(days)
    for ds in days:
        for name, df in results[ds].items():
            written = spark.read.orc(os.path.join(out, name, f"ds={ds}"))
            assert written.count() > 0, f"{name} {ds} empty — vacuous"
            assert written.exceptAll(df).count() == 0, (name, ds)
            assert df.exceptAll(written).count() == 0, (name, ds)


def test_backfill_overwrites_daily_serving_location(spark, sf_small, tmp_path):
    """Daily job and backfill must write the SAME per-(table, ds)
    serving locations: a backfill that lands somewhere else leaves
    the live serving output untouched — the ADVICE-flagged bug."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_backfill

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    ds = "2024-01-05"
    run_daily_job(spark, spark.read.parquet(lake), ds, out)
    day_path = os.path.join(out, "user_level", f"ds={ds}")
    assert os.path.isdir(day_path)
    before_files = set(os.listdir(day_path))

    run_backfill(spark, lake, ds, ds, out)
    # same location rewritten (overwrite -> fresh part files), and the
    # table root still reads as one ds-partitioned serving table
    assert os.path.isdir(day_path)
    assert set(os.listdir(day_path)) != before_files or not before_files
    tbl = spark.read.parquet(os.path.join(out, "user_level"))
    assert "ds" in tbl.columns
    assert tbl.filter(F.col("ds") == ds).count() > 0


def test_daily_pipeline_three_day_replay_idempotent(spark, sf_small, tmp_path):
    """The composed operational verb (`job daily <ds>`): replay three
    days end-to-end, then re-run day 2 — every day-2 output (closed
    sessions, carry state, serving tables) must be byte-identical,
    and day 3 must still stitch correctly off day 2's re-written
    state."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    reports = {ds: run_daily_pipeline(spark, lake, ds, out) for ds in days}
    for ds in days:
        assert reports[ds]["hygiene"]["rows"] > 0
        assert reports[ds]["hygiene"]["quarantined"] == 0
        assert reports[ds]["serving_tables"] == [
            "session_full",
            "session_level",
            "user_level",
        ]
    # day 1 has no predecessor partition to compact; days 2-3 do
    assert "compacted_previous" not in reports["2024-01-01"]
    assert "compacted_previous" in reports["2024-01-02"]
    # the observed counts equal direct counts of what the day read
    # and what the steps wrote
    for ds in days:
        assert reports[ds]["hygiene"] == {
            "rows": spark.read.parquet(lake).filter(F.col("date") == ds).count(),
            "quarantined": spark.read.parquet(f"{out}/quarantine/ds={ds}").count(),
        }
        assert reports[ds]["sessions"] == {
            "closed": spark.read.parquet(f"{out}/session_closed/ds={ds}").count(),
            "open": spark.read.parquet(f"{out}/session_state/ds={ds}").count(),
        }

    def _hashable(r):
        return tuple(
            tuple(sorted(x)) if isinstance(x, list) else x for x in r
        )

    def _snap(ds):
        closed = spark.read.parquet(f"{out}/session_closed/ds={ds}")
        state = spark.read.parquet(f"{out}/session_state/ds={ds}")
        lvl = spark.read.parquet(f"{out}/session_level/ds={ds}")
        return (
            {_hashable(r) for r in closed.collect()},
            {_hashable(r) for r in state.collect()},
            {_hashable(r) for r in lvl.collect()},
        )

    before = _snap("2024-01-02")
    rerun = run_daily_pipeline(spark, lake, "2024-01-02", out)
    assert rerun["sessions"] == reports["2024-01-02"]["sessions"]
    assert _snap("2024-01-02") == before
    # day 3's outputs are untouched by the day-2 re-run
    d3 = _snap("2024-01-03")
    assert all(len(s) > 0 for s in d3)


def _settled_status(spark):
    """The status tracker once every event posted so far is applied:
    it is fed asynchronously, so a job that just ended can still show
    as active and one just launched can be missing."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark.sparkContext.statusTracker()


@contextmanager
def _jobs_of(spark, group):
    """Run the block under job group ``group``; on exit the yielded
    list holds the ids of its jobs.  Fails when the block launched a
    job without a group, one that would escape the count."""
    sc = spark.sparkContext
    ungrouped = set(_settled_status(spark).getJobIdsForGroup(None))
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    status = _settled_status(spark)
    assert set(status.getJobIdsForGroup(None)) == ungrouped, "a job lost its group"
    jobs.extend(status.getJobIdsForGroup(group))


def test_daily_pipeline_job_budget(spark, sf_small, tmp_path):
    """One pipeline day with a prior day present (a carry state to
    read, a partition to compact) launches at most 15 Spark jobs: the
    steps share one lake read, the hygiene and session counts are
    observed on their writes, the hot-key cap and ``user_level`` are
    one aggregate each, and the serving step does not cache the day.
    Every job carries the caller's group, also those launched from the
    threads that run the writes concurrently: a job that lost the
    group would escape the budget, so none may appear ungrouped."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    run_daily_pipeline(spark, lake, "2024-01-01", out)
    with _jobs_of(spark, "test_daily_pipeline_job_budget") as jobs:
        report = run_daily_pipeline(spark, lake, "2024-01-02", out)
    assert "compacted_previous" in report
    assert len(jobs) <= 15


def test_daily_job_budget_and_no_day_cache(spark, sf_small, tmp_path):
    """The serving step alone launches at most 6 jobs and caches
    nothing: its three writes run concurrently, and a cached day would
    make each writer launch its own job to build the one cache."""
    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    # listing and schema inference of the lake are the caller's jobs
    events = spark.read.parquet(lake)
    with _jobs_of(spark, "test_daily_job_budget_and_no_day_cache") as jobs:
        results = run_daily_job(spark, events, "2024-01-05", str(tmp_path / "serving"))
    assert len(jobs) <= 6
    for name, df in results.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan, (name, plan)


def test_concurrently_joins_every_call_then_raises_the_first_failure(spark):
    """``_concurrently`` hands each call the caller's job group,
    returns results in call order, and on failure re-raises the first
    failing call's error in CALL order (not the first to fail in time)
    only once every call has ended."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import _concurrently

    sc = spark.sparkContext
    ended = []

    def slow_failure():
        time.sleep(0.2)
        raise ValueError("first in call order")

    def fast_failure():
        raise KeyError("first in time")

    def slowest():
        time.sleep(0.5)
        ended.append("slowest")

    group = "test_concurrently"
    with _jobs_of(spark, group):
        got = _concurrently(
            spark, lambda: sc.getLocalProperty("spark.jobGroup.id"), lambda: 2
        )
        with pytest.raises(ValueError, match="first in call order"):
            _concurrently(spark, slow_failure, fast_failure, slowest)
    assert got == [group, 2]
    assert ended == ["slowest"]


def test_user_level_one_exchange(spark, sf_small, tmp_path):
    """``user_level``'s distinct event-type count shares the user_id
    exchange of its other aggregates: one exchange in the plan."""
    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    results = run_daily_job(
        spark, spark.read.parquet(lake), "2024-01-05", str(tmp_path / "serving")
    )
    plan = results["user_level"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_daily_job_releases_cache_when_a_write_fails(spark, sf_small, tmp_path):
    """A failing serving write must not leave the day cached for the
    rest of the session, nor a sibling write still running once the
    error reaches the caller."""
    from py4j.protocol import Py4JJavaError

    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    not_a_dir = tmp_path / "serving"
    not_a_dir.write_text("")
    spark.catalog.clearCache()
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        run_daily_job(spark, spark.read.parquet(lake), "2024-01-05", str(not_a_dir))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _settled_status(spark).getActiveJobsIds() == []


def test_daily_pipeline_joins_quarantine_when_serving_fails(spark, sf_small, tmp_path):
    """When the serving step fails, the quarantine write running beside
    it has ended, and succeeded, before the error reaches the caller:
    no job is left running and the day's quarantine partition is
    complete."""
    from py4j.protocol import Py4JJavaError

    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake = str(tmp_path / "lake")
    out = tmp_path / "serving"
    build_lake(spark, sf_small, lake)
    out.mkdir()
    (out / "user_level").write_text("")
    ds = "2024-01-05"
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        run_daily_pipeline(spark, lake, ds, str(out))
    assert _settled_status(spark).getActiveJobsIds() == []
    assert (out / "quarantine" / f"ds={ds}" / "_SUCCESS").exists()


def test_daily_pipeline_on_stream_written_lake(spark, sf_small, tmp_path):
    """The paper's flow, stream -> lake -> daily: on a lake written by
    the file sink, the pipeline's compact step skips the partition
    under the sink's _spark_metadata log (compaction would orphan the
    log) and says so in the report; every day runs and the lake keeps
    every row."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline
    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
        enrich_events,
        read_file_stream,
        write_lake_stream,
    )

    days = ["2024-01-01", "2024-01-02"]
    src = str(tmp_path / "src")
    load_events(spark, sf_small).filter(
        F.date_format("ts", "yyyy-MM-dd").isin(days)
    ).repartition(4).write.parquet(src)
    lake = str(tmp_path / "stream_lake")
    q = write_lake_stream(
        enrich_events(read_file_stream(spark, src, max_files_per_trigger=1)),
        lake,
        str(tmp_path / "ckpt"),
        partition_col="date",
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    lake_rows = spark.read.parquet(lake).count()
    assert lake_rows > 0

    out = str(tmp_path / "serving")
    reports = [run_daily_pipeline(spark, lake, ds, out) for ds in days]
    assert "compacted_previous" not in reports[0]
    skipped = reports[1]["compacted_previous"]["skipped"]
    assert skipped.endswith("_spark_metadata")
    assert sum(r["hygiene"]["rows"] for r in reports) == lake_rows
    assert spark.read.parquet(lake).count() == lake_rows


def test_daily_pipeline_quarantines_and_excludes_bad_rows(spark, sf_small, tmp_path):
    """A poison row (null user_id) must land in the quarantine sink
    AND be excluded from sessionization and serving — dead-lettered
    rows are never also served."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    ds = "2024-01-05"
    day_dir = os.path.join(lake, f"date={ds}")
    poison = (
        spark.read.parquet(day_dir)
        .limit(1)
        .withColumn("user_id", F.lit(None).cast("long"))
        .withColumn("event_id", F.lit(99_999_999))
    )
    poison.write.mode("append").parquet(day_dir)

    rep = run_daily_pipeline(spark, lake, ds, out)
    assert rep["hygiene"]["quarantined"] == 1
    q = spark.read.parquet(os.path.join(out, "quarantine", f"ds={ds}"))
    assert q.count() == 1 and q.first().user_id is None
    for table in ("user_level", "session_level", "session_closed", "session_state"):
        df = spark.read.parquet(os.path.join(out, table, f"ds={ds}"))
        assert df.filter(F.col("user_id").isNull()).count() == 0, table


def test_quarantine_rerun_clears_stale_rows(spark, sf_small, tmp_path):
    """Re-running a day AFTER upstream data was fixed must clear the
    previous run's quarantine rows — the per-day-overwrite invariant
    covers the dead-letter sink too (a stale quarantine row for a now-
    served event would be a contradiction in the audit record)."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    ds = "2024-01-05"
    day_dir = os.path.join(lake, f"date={ds}")
    poison = (
        spark.read.parquet(day_dir)
        .limit(1)
        .withColumn("user_id", F.lit(None).cast("long"))
        .withColumn("event_id", F.lit(99_999_999).cast("long"))
    )
    poison_path = str(tmp_path / "poison")
    poison.write.parquet(poison_path)
    spark.read.parquet(poison_path).write.mode("append").parquet(day_dir)

    rep = run_daily_pipeline(spark, lake, ds, out)
    assert rep["hygiene"]["quarantined"] == 1
    qdir = os.path.join(out, "quarantine", f"ds={ds}")
    assert spark.read.parquet(qdir).count() == 1

    # upstream fix: rewrite the day WITHOUT the poison row
    fixed = spark.read.parquet(day_dir).filter(F.col("user_id").isNotNull())
    fixed_path = str(tmp_path / "fixed_day")
    fixed.write.parquet(fixed_path)
    import shutil

    shutil.rmtree(day_dir)
    shutil.copytree(fixed_path, day_dir)

    rep2 = run_daily_pipeline(spark, lake, ds, out)
    assert rep2["hygiene"]["quarantined"] == 0
    # the stale dead-letter record is GONE, not merely outnumbered
    assert spark.read.parquet(qdir).count() == 0


