"""End-to-end daily batch job: lake build → partition-pruned day read
→ cached fan-out → serving outputs (SURVEY.md §3.2 lifecycle)."""

from __future__ import annotations

import os

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
    results must match the parquet run row-for-row."""
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


def test_unknown_verb_fails_before_spark(tmp_path, monkeypatch):
    """An unrecognized verb is not a date: ``main`` must refuse it
    before it starts a session or writes serving tables under
    ``ds=<verb>``."""
    import pytest

    import data_engineering_user_session_analysis_spark as pkg
    from data_engineering_user_session_analysis_spark.jobs.batch_job import main

    def no_spark(*_a, **_k):
        raise AssertionError("get_spark called for an unknown verb")

    monkeypatch.setattr(pkg, "get_spark", no_spark)
    serving = tmp_path / "serving"
    monkeypatch.setenv("SERVING_PATH", str(serving))
    with pytest.raises(SystemExit, match="'reindex'.*daily"):
        main(["job", "reindex", str(tmp_path / "idx")])
    assert not serving.exists()
    assert not (tmp_path / "idx").exists()


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


def test_daily_pipeline_job_budget(spark, sf_small, tmp_path):
    """One pipeline day with a prior day present (a carry state to
    read, a partition to compact) launches at most 16 Spark jobs: the
    steps share one lake read, the hygiene and session counts are
    observed on their writes, and the hot-key cap and ``user_level``
    are one aggregate each."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    run_daily_pipeline(spark, lake, "2024-01-01", out)
    sc = spark.sparkContext
    group = "test_daily_pipeline_job_budget"
    sc.setJobGroup(group, group)
    try:
        report = run_daily_pipeline(spark, lake, "2024-01-02", out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "compacted_previous" in report
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 16


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
    rest of the session."""
    import pytest
    from py4j.protocol import Py4JJavaError

    lake = str(tmp_path / "lake")
    build_lake(spark, sf_small, lake)
    not_a_dir = tmp_path / "serving"
    not_a_dir.write_text("")
    spark.catalog.clearCache()
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        run_daily_job(spark, spark.read.parquet(lake), "2024-01-05", str(not_a_dir))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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


def test_docs_index_step_probes_and_is_idempotent(spark, sf_small, tmp_path):
    """The daily doc-shard index step: day 1 self-dedups and builds
    the ds-partitioned index; day 2 probes ONLY prior days, drops its
    planted exact copies, and a day-2 re-run reproduces the identical
    report (the probe cannot see its own rows)."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_docs_index_step
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    copies = even.orderBy("doc_id").limit(5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    day2_docs = docs.filter(F.col("doc_id") % 2 == 1).unionByName(copies)
    p1, p2 = str(tmp_path / "shard1"), str(tmp_path / "shard2")
    even.write.parquet(p1)
    day2_docs.write.parquet(p2)
    out = str(tmp_path / "serving")

    r1 = run_docs_index_step(spark, p1, out, "2024-01-01")
    assert r1["dup_hits"] is None  # first day: no prior index
    assert 0 < r1["indexed_rows"] <= r1["shard_rows"]

    r2 = run_docs_index_step(spark, p2, out, "2024-01-02")
    # the 5 planted exact copies of indexed day-1 docs must hit
    # (exact copies of day-1 docs that SURVIVED day-1 self-dedup
    # still hit via their canonical near-dup)
    assert r2["dup_hits"] >= 4
    assert r2["indexed_rows"] < r2["shard_rows"]

    r2_rerun = run_docs_index_step(spark, p2, out, "2024-01-02")
    assert r2_rerun == r2
    import os

    ds_parts = sorted(os.listdir(os.path.join(out, "doc_index", "buckets")))
    assert ds_parts == ["ds=2024-01-01", "ds=2024-01-02"]


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


def test_docs_index_step_skips_incomplete_day(spark, sf_small, tmp_path):
    """A crashed prior-day index write (no bucket _SUCCESS) must be
    EXCLUDED from the probe — its partial files must not generate
    candidates — while complete sibling days still hit."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_docs_index_step
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    # synthetic shingle-disjoint docs: every word carries its doc
    # index, so the ONLY possible near-dup hits are the planted exact
    # copies — the counts below are exact, not fixture-dependent
    def mk(ids):
        return spark.createDataFrame(
            [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in ids],
            "doc_id long, text string",
        )

    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    mk(range(0, 10)).write.parquet(p1)
    mk(range(10, 20)).write.parquet(p2)
    out = str(tmp_path / "serving")
    run_docs_index_step(spark, p1, out, "2024-01-01")
    run_docs_index_step(spark, p2, out, "2024-01-02")

    # simulate a crashed day-2 write: bucket _SUCCESS never landed
    os.remove(
        os.path.join(out, "doc_index", "buckets", "ds=2024-01-02", "_SUCCESS")
    )

    # day 3 = exact copies of 3 day-1 docs AND 3 day-2 docs
    copies1 = mk(range(0, 3)).withColumn("doc_id", F.col("doc_id") + 2_000_000)
    copies2 = mk(range(10, 13)).withColumn("doc_id", F.col("doc_id") + 3_000_000)
    p3 = str(tmp_path / "s3")
    copies1.unionByName(copies2).write.parquet(p3)
    r3 = run_docs_index_step(spark, p3, out, "2024-01-03")
    # exactly the day-1 copies hit; the incomplete day-2 partition
    # contributed no candidates, so its copies survive (dup'd rows
    # that a complete day 2 WOULD have caught — re-running day 2
    # rebuilds its partition and restores them to the probe surface)
    assert r3["dup_hits"] == 3
    assert r3["indexed_rows"] == 3


def test_vectors_index_step_probes_and_is_idempotent(spark, sf_small, tmp_path):
    """The daily embedding-shard index step: day 1 self-dedups and
    builds the ds-partitioned vector index; day 2 probes ONLY prior
    days, drops its planted exact clones (cosine 1.0 >= 0.9), and a
    day-2 re-run reproduces the identical report."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_vectors_index_step
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    clones = even.orderBy("vec_id").limit(5).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    day2 = emb.filter(F.col("vec_id") % 2 == 1).unionByName(clones)
    p1, p2 = str(tmp_path / "shard1"), str(tmp_path / "shard2")
    even.write.parquet(p1)
    day2.write.parquet(p2)
    out = str(tmp_path / "serving")

    r1 = run_vectors_index_step(spark, p1, out, "2024-01-01")
    assert r1["dup_hits"] is None
    assert 0 < r1["indexed_rows"] <= r1["shard_rows"]

    r2 = run_vectors_index_step(spark, p2, out, "2024-01-02")
    # clones of day-1 vectors that survived day-1 self-dedup hit at
    # cosine 1.0 (a clone of a dropped vector still hits via the
    # canonical representative)
    assert r2["dup_hits"] >= 4
    assert r2["indexed_rows"] < r2["shard_rows"]

    r2_rerun = run_vectors_index_step(spark, p2, out, "2024-01-02")
    assert r2_rerun == r2
    ds_parts = sorted(os.listdir(os.path.join(out, "vector_index", "buckets")))
    assert ds_parts == ["ds=2024-01-01", "ds=2024-01-02"]


def test_vectors_index_step_auto_rebuilds_outgrown_geometry(spark, sf_small, tmp_path):
    """The outgrown alarm's consumer (VERDICT r08 #5): a 4-day replay
    with a deliberately small design horizon (target_days=2) trips
    the geometry-outgrown check on day 3 — with ``auto_rebuild=True``
    the step rebuilds in-line sized from the observed daily rate,
    clears the alarm, and day 4 still catches planted clones of
    day-1 vectors ACROSS the rebuild (the re-bucketed signature
    space stays probe-correct)."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_vectors_index_step
    from data_engineering_user_session_analysis_spark.operators.dedup_index import (
        _read_vector_params,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    shards = [emb.filter(F.col("vec_id") % 4 == i) for i in range(3)]
    clones = shards[0].orderBy("vec_id").limit(5).withColumn(
        "vec_id", F.col("vec_id") + 2_000_000
    )
    shards.append(emb.filter(F.col("vec_id") % 4 == 3).unionByName(clones))
    paths = []
    for i, s in enumerate(shards):
        p = str(tmp_path / f"shard{i}")
        s.write.parquet(p)
        paths.append(p)
    out = str(tmp_path / "serving")
    idx = os.path.join(out, "vector_index")
    days = [f"2024-01-0{i + 1}" for i in range(4)]

    r1 = run_vectors_index_step(
        spark, paths[0], out, days[0], target_days=2, auto_rebuild=True
    )
    # day 1 freezes the design point at shard_rows · target_days
    assert _read_vector_params(spark, idx)["target_n"] == r1["shard_rows"] * 2

    r2 = run_vectors_index_step(
        spark, paths[1], out, days[1], target_days=2, auto_rebuild=True
    )
    # at (not past) the design point: the alarm must NOT trip early
    assert r2["index_rebuilt"] is None

    r3 = run_vectors_index_step(
        spark, paths[2], out, days[2], target_days=2, auto_rebuild=True
    )
    assert r3["index_rebuilt"] is not None, "day 3 exceeds the 2-day horizon"
    assert r3["index_outgrown"]["outgrown"] is False, "rebuild must clear the alarm"
    new = _read_vector_params(spark, idx)
    assert new["target_n"] >= 2 * r3["index_outgrown"]["indexed_n"]
    assert new["target_n"] > r1["shard_rows"] * 2

    r4 = run_vectors_index_step(
        spark, paths[3], out, days[3], target_days=2, auto_rebuild=True
    )
    # clones of day-1 vectors hit through the REBUILT signature space
    assert r4["dup_hits"] >= 4
    # per-day completeness markers survived the rebuild for all
    # pre-rebuild-complete days (probe surface stayed whole)
    ds_parts = sorted(
        p for p in os.listdir(os.path.join(idx, "buckets")) if p.startswith("ds=")
    )
    assert ds_parts == [f"ds={d}" for d in days]


def test_index_steps_attach_recall_sensors(spark, sf_small, tmp_path):
    """`recall_sample_q` wires the measured-recall sensors into the
    daily index-step reports (CLI: `job daily --recall-check`): both
    steps must attach a `recall_check` dict carrying prediction next
    to measurement at the step's own threshold — and the planted
    exact clones indexed on day 1 must be RETRIEVED truth for day 2's
    sensor (clone pairs are structural recall 1.0 in both families).
    Without the knob the reports are unchanged (no sensor cost on the
    default path)."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        run_docs_index_step,
        run_vectors_index_step,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    pd_, pe = str(tmp_path / "docs"), str(tmp_path / "emb")
    docs.write.parquet(pd_)
    emb.write.parquet(pe)
    out = str(tmp_path / "serving")

    rd = run_docs_index_step(spark, pd_, out, "2024-01-01", recall_sample_q=6)
    rv = run_vectors_index_step(spark, pe, out, "2024-01-01", recall_sample_q=6)
    for r, fam in ((rd, "minhash"), (rv, "vector")):
        rc = r["recall_check"]
        assert rc["sample_q"] == 6, (fam, rc)
        assert "predicted_recall_at_threshold" in rc
        assert rc["recall_at_threshold"] is None or 0.0 <= rc["recall_at_threshold"] <= 1.0

    plain = run_docs_index_step(spark, pd_, out, "2024-01-02")
    assert "recall_check" not in plain


def test_vectors_index_step_recall_floor_consumer(spark, tmp_path):
    """Round-10 symmetry: geometry growth has outgrown->rebuild, and
    recall now has breached->tune.  A day-1 index frozen with a
    deliberately weak geometry (1 table, 16 planes) measures
    near-zero recall at the step's threshold once day 2 lands its
    ~0.94-cosine variants; with recall_floor + auto_tune_recall the
    step trips `recall_breached`, runs the geometry autotune in-line,
    and the stored params end at the tuner's met geometry.  Without
    the floor the report shape is unchanged (no breach keys)."""
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        run_vectors_index_step,
    )
    from data_engineering_user_session_analysis_spark.operators.dedup_index import (
        _read_vector_params,
        append_shard_to_vector_index,
    )

    rng = np.random.RandomState(31)
    dim = 16
    base = rng.randn(240, dim)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    day1 = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(240)],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp_path / "serving")
    idx = os.path.join(out, "vector_index")
    # day 1 freezes a starved geometry (outside the step, as a
    # legacy/misconfigured deployment would have)
    append_shard_to_vector_index(
        day1, idx, "2024-01-01", dim=dim, tables=1, planes=16
    )

    rows = []
    for i in range(120):  # ~0.94-cosine variants of day-1 vectors
        u = rng.randn(dim)
        u /= np.linalg.norm(u)
        v = base[i] + 0.35 * u
        rows.append((10_000 + i, [float(x) for x in v]))
    p2 = str(tmp_path / "day2_shard")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(p2)

    rep = run_vectors_index_step(
        spark, p2, out, "2024-01-02", threshold=0.9,
        recall_sample_q=20, recall_floor=0.9, auto_tune_recall=True,
    )
    # the sensor catches the breach the weak geometry causes...
    assert rep["recall_check"]["recall_at_threshold"] is not None
    assert rep["recall_check"]["recall_at_threshold"] < 0.9, rep["recall_check"]
    assert rep["recall_breached"] is True
    # ...and the in-line tuner brings it to the measured floor
    tuned = rep["recall_tuned"]
    assert tuned is not None and tuned["met"], tuned
    assert tuned["recall_at_threshold"] >= 0.9
    stored = _read_vector_params(spark, idx)
    assert (stored["tables"], stored["planes"]) == (
        tuned["tables"], tuned["planes"],
    )
    assert stored["dim"] == dim

    # re-run of the day without a floor: sensor only, no breach keys
    rep2 = run_vectors_index_step(
        spark, p2, out, "2024-01-02", threshold=0.9, recall_sample_q=5
    )
    assert "recall_breached" not in rep2 and "recall_tuned" not in rep2


def test_docs_index_step_recall_floor_consumer(spark, tmp_path):
    """The docs-step twin of the vectors-step breached->tune pair: a
    day-2 shard of ~0.55-Jaccard prefix variants measures below a
    0.9 floor at the default 16x4 banding; with auto_tune_recall the
    step re-bands in-line (minhash_index_recall_autotune) and the
    stored params end at the tuner's met geometry."""
    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        run_docs_index_step,
    )
    from data_engineering_user_session_analysis_spark.operators.dedup_index import (
        _read_minhash_params,
        append_shard_to_minhash_index,
    )

    base_rows, day2_rows = [], []
    for i in range(150):
        toks = [f"d{i}w{j}" for j in range(42)]
        base_rows.append((i, " ".join(toks)))
        keep = 22 + (i * 7) % 6  # prefix fractions ~0.52-0.64
        day2_rows.append((10_000 + i, " ".join(toks[:keep])))
    out = str(tmp_path / "serving")
    idx = os.path.join(out, "doc_index")
    append_shard_to_minhash_index(
        spark.createDataFrame(base_rows, "doc_id long, text string"),
        idx, "2024-01-01",
    )
    p2 = str(tmp_path / "day2_docs")
    spark.createDataFrame(day2_rows, "doc_id long, text string").write.parquet(p2)

    rep = run_docs_index_step(
        spark, p2, out, "2024-01-02", threshold=0.5,
        recall_sample_q=25, recall_floor=0.9, auto_tune_recall=True,
    )
    assert rep["recall_check"]["recall_at_threshold"] is not None
    assert rep["recall_check"]["recall_at_threshold"] < 0.9, rep["recall_check"]
    assert rep["recall_breached"] is True
    tuned = rep["recall_tuned"]
    assert tuned is not None and tuned["met"], tuned
    assert tuned["recall_at_threshold"] >= 0.9
    stored = _read_minhash_params(spark, idx)
    assert (stored["bands"], stored["rows_per_band"]) == (
        tuned["bands"], tuned["rows_per_band"],
    )

    # floorless re-run keeps the old report shape
    rep2 = run_docs_index_step(
        spark, p2, out, "2024-01-02", threshold=0.5, recall_sample_q=5
    )
    assert "recall_breached" not in rep2 and "recall_tuned" not in rep2


def test_recall_floor_without_sample_q_raises(spark, tmp_path):
    """ADVICE r10 (medium): a recall_floor with no recall_sample_q
    used to be silently inert — the breach check lives inside the
    sensor branch, so the caller's alarm never armed and the report
    carried no recall_breached key.  Both index steps must refuse the
    configuration up front, before touching any data."""
    import pytest

    from data_engineering_user_session_analysis_spark.jobs.batch_job import (
        run_docs_index_step,
        run_vectors_index_step,
    )

    for fn, path in (
        (run_docs_index_step, str(tmp_path / "nonexistent_docs")),
        (run_vectors_index_step, str(tmp_path / "nonexistent_emb")),
    ):
        with pytest.raises(ValueError, match="recall_sample_q"):
            fn(spark, path, str(tmp_path / "out"), "2024-01-01",
               recall_floor=0.8)
        with pytest.raises(ValueError, match="recall_sample_q"):
            fn(spark, path, str(tmp_path / "out"), "2024-01-01",
               recall_floor=0.8, recall_sample_q=0)
        # a tune consumer with no floor to breach is equally inert
        with pytest.raises(ValueError, match="recall_floor"):
            fn(spark, path, str(tmp_path / "out"), "2024-01-01",
               recall_sample_q=20, auto_tune_recall=True)


def test_daily_pipeline_span_step_with_positions(spark, sf_small, tmp_path):
    """run_daily_pipeline step 7 wiring (previously only the step
    function was tested directly): with docs_path + span_window the
    composed verb runs the span-index step; with max_dup_span_frac +
    persist_span_positions it lands both the flag record and the
    rewrite-positions record (VERDICT r14 #2) in the serving layout,
    and the report carries their counts."""
    import os

    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.jobs.batch_job import run_daily_pipeline
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    lake = str(tmp_path / "lake")
    out = str(tmp_path / "serving")
    build_lake(spark, sf_small, lake)
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    src = (
        docs.withColumn("_n", F.size(F.split("text", " ")))
        .filter(F.col("_n") >= 80)
        .orderBy("doc_id")
        .first()
    )
    d1_path = str(tmp_path / "shard1")
    docs.write.parquet(d1_path)
    # day 2: one paste-heavy doc (25/30 pasted > 0.6), one clean
    day2 = spark.createDataFrame(
        [
            (990040, " ".join(src.text.split(" ")[:25] + [f"qa{i}" for i in range(5)])),
            (990041, " ".join(f"qb{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    d2_path = str(tmp_path / "shard2")
    day2.write.parquet(d2_path)
    r1 = run_daily_pipeline(
        spark, lake, "2024-01-01", out,
        docs_path=d1_path, span_window=15,
        max_dup_span_frac=0.6, persist_span_positions=True,
    )
    # the sf0.001 documents fixture contains organically paste-heavy
    # docs, so day 1 flags a real handful — the wiring assertion is
    # that the step ran and recorded them
    assert r1["span_index"]["flagged_over_threshold"] > 0
    assert r1["span_index"]["complete_days"] == 1
    r2 = run_daily_pipeline(
        spark, lake, "2024-01-02", out,
        docs_path=d2_path, span_window=15,
        max_dup_span_frac=0.6, persist_span_positions=True,
    )
    assert r2["span_index"]["flagged_over_threshold"] == 1
    assert r2["span_index"]["flagged_span_positions"] > 0
    flags_dir = os.path.join(out, "span_flags", "ds=2024-01-02")
    pos_dir = os.path.join(out, "span_positions", "ds=2024-01-02")
    assert {r.doc_id for r in spark.read.parquet(flags_dir).collect()} == {990040}
    pos = spark.read.parquet(pos_dir)
    assert {r.doc_id for r in pos.collect()} == {990040}
    assert set(pos.columns) == {"doc_id", "pos", "wh", "keep"}
    assert os.path.exists(os.path.join(pos_dir, "_write_meta.json"))
    # the positions record drives the prep rewrite end-to-end
    from data_engineering_user_session_analysis_spark.pipelines.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    surv, rep = prepare_corpus(
        day2,
        config=CorpusPrepConfig(
            min_tokens=5, max_dup_line_frac=1.0,
            span_action="rewrite", span_positions_path=pos_dir,
        ),
    )
    assert "span_rewritten" in rep
    texts = {r.doc_id: r.text for r in surv.collect()}
    # the pasted 25-token prefix is excised (canonical lives in day 1)
    assert texts[990040] == " ".join(f"qa{i}" for i in range(5))
    assert texts[990041] == " ".join(f"qb{i}" for i in range(30))
