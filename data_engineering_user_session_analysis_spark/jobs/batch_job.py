"""Daily batch job — the reference's ``spark_batch_job.py`` contract
(CLI arg = execution date, reference ``dags/kafka_stream.py:92`` →
``sys.argv[1]``), re-expressed Spark-first:

* **Partition pruning, not path construction**: the reference builds
  the partition directory string by hand
  (``spark_jobs/spark_batch_job.py:17``); here the job reads the lake
  base path and filters ``date = <ds>`` — Catalyst prunes to the same
  files, with schema stability across days (SURVEY.md §4 row 1).  The
  base path is read with the one declared lake schema
  (``streaming/ingest_stream.read_lake``), so no job infers it.
* **One lake read, counts without jobs**: the reference rescans the
  day's data for every one of its 5 actions (no ``.cache()``,
  ``spark_jobs/spark_batch_job.py:27-164``); here the daily pipeline
  reads the lake relation once and hands it to every step, and the
  report's row counts are ``Observation``s on writes that run anyway,
  not ``count()`` jobs of their own.
* **Independent writes overlap**: each write action is its own Spark
  query, and at paper size a day's jobs are a few tasks each, so run
  one after another they leave most cores idle between launches.
  Writes that do not read each other's output are submitted together
  (``_concurrently``) and the scheduler fills the cores: the daily
  pipeline runs its quarantine write, stitch step and serving step
  side by side, and each step overlaps its own writes in turn.
  The serving step re-scans the day's few partition-pruned files per
  table instead of caching it: concurrent writers would each launch
  their own job to build one cache.
* **Serving sink**: parquet (or ORC) directories stand in for the
  reference's Postgres tables, with the same per-table ``overwrite``
  semantics; ``sources/jdbc.write_jdbc`` is the JDBC sink.
"""

from __future__ import annotations

import datetime
import functools
import os
import sys
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from data_engineering_user_session_analysis_spark.operators.rollup_full import session_rollup_full
from data_engineering_user_session_analysis_spark.operators.sessionize import session_rollup, sessionize
from data_engineering_user_session_analysis_spark.sources.events import load_events
from data_engineering_user_session_analysis_spark.sources.formats import write_lake_table
from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
    LAKE_SCHEMA,
    check_lake,
    enrich_events,
    read_lake,
)


def parse_ds(ds: str) -> datetime.date:
    """The execution date ``ds`` as a date, accepting only the
    canonical ``YYYY-MM-DD`` form.  ``date.fromisoformat`` alone also
    takes ``20240105`` and ``2024-W01-1``; a non-canonical string
    would name a second partition for the same day (``ds=20240105``),
    which prior-state selection then refuses to read past."""
    try:
        day = datetime.date.fromisoformat(ds)
    except (TypeError, ValueError):
        day = None
    if day is None or day.isoformat() != ds:
        raise ValueError(f"ds must be a YYYY-MM-DD date, got {ds!r}")
    return day


def _concurrently(spark: SparkSession, *calls: Callable[[], object]) -> list:
    """Run the zero-argument ``calls`` at once, one thread each, and
    return their results in call order.  Each thread inherits the
    caller's Spark job group, description and tags, so its jobs are
    attributed as if the caller had launched them.  Every call is
    joined before the first failure, in call order, is re-raised: no
    write is still running when the error reaches the caller."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in calls]
    # leaving the block joined every thread
    return [f.result() for f in futures]


def build_lake(
    spark: SparkSession, sf_dir: str, lake_path: str, fmt: str = "parquet"
) -> None:
    """Materialize the events lake, Hive-partitioned by event date: the
    batch twin of the ingest stream's sink (reference S4/ST7).  The
    events go through the stream's ``enrich_events`` with ``ts`` cast
    to TIMESTAMP (the identity under the UTC session), so the files
    hold ``LAKE_SCHEMA`` as the stream writes it.  ``fmt`` is parquet
    or ORC (sources/formats.py); row formats are rejected."""
    ev = load_events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    write_lake_table(enrich_events(ev), lake_path, fmt=fmt, partition_by=("date",))


def run_daily_job(
    spark: SparkSession,
    lake: DataFrame,
    ds: str,
    out_dir: str,
    fmt: str = "parquet",
) -> dict[str, DataFrame]:
    """Compute and persist the day's serving tables.

    Sessionization here is WITHIN-day (the reference's semantics —
    its daily job sessionizes the one partition it reads), so a
    session crossing midnight appears once per day it touches.  When
    cross-day sessions must be exact, run the incremental verb
    (``job sessions <ds>`` → ``run_incremental_sessions``) instead:
    it stitches boundary sessions through an O(active users) carry
    and is pinned equal to batch sessionization of the full history.

    ``lake`` is the whole lake relation (``read_lake``); the job
    filters it to ``date = ds`` itself, so a caller running several
    steps or days reads (and lists) the lake once.  Returns the result
    DataFrames keyed by table name (also written to ``out_dir`` in
    the lake format; the three writes run concurrently).  ``fmt`` is
    the serving format and should match the lake's (partition
    pruning behaves identically for parquet and ORC — plan-pinned in
    tests/test_formats.py); only columnar formats are accepted.

    Schema note: round 6 added ``events_truncated`` to
    ``session_full`` (the hot-key cap).  A serving dir holding
    pre-cap days alongside new ones has divergent per-ds schemas —
    read such a root with ``mergeSchema=true`` once, or backfill the
    old days; fresh deployments are unaffected.

    Serving layout: ``out_dir/<table>/ds=<ds>`` — each run overwrites
    exactly its own day (idempotent re-runs, history preserved), the
    table root reads as one ds-partitioned table, and ``run_backfill``
    writes the SAME locations, so a backfill genuinely replaces what
    the daily runs produced.
    """
    day = (
        lake.filter(F.col("date") == ds)  # -> PartitionFilters, file pruning
        # rows with no session key cannot be sessionized or attributed
        # to a user — excluded here (the daily pipeline's hygiene step
        # records them in the quarantine sink)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )

    sessionized = sessionize(day, order_cols=("event_id",))
    session_level = session_rollup(sessionized)
    # serving posture: bound the per-session event trace so one bot
    # key cannot OOM an aggregation buffer (operators/rollup_full.py
    # hot-key policy); 10k events is far above any human session.
    session_full = session_rollup_full(sessionized, max_events=10_000)

    purchase = F.col("event_type") == "purchase"
    user_level = day.groupBy("user_id").agg(
        F.sum(F.when(purchase, 1).otherwise(0)).alias("total_purchases"),
        F.sum(F.when(purchase, F.col("value").cast("decimal(18,2)")))
        .cast("double")
        .alias("total_spent"),
        F.count("*").alias("n_events"),
        # = countDistinct (both skip nulls, both bigint), but planned
        # as one aggregation over the user_id exchange instead of two
        F.size(F.collect_set("event_type")).cast("long").alias("n_event_types"),
    )

    results = {
        "session_level": session_level,
        "session_full": session_full,
        "user_level": user_level,
    }

    def write(name: str, df: DataFrame) -> None:
        write_lake_table(df, os.path.join(out_dir, name, f"ds={ds}"), fmt=fmt)

    _concurrently(
        spark, *(functools.partial(write, name, df) for name, df in results.items())
    )
    return results


def run_incremental_sessions(
    spark: SparkSession,
    lake: DataFrame,
    ds: str,
    out_dir: str,
    fmt: str = "parquet",
) -> dict[str, int]:
    """Daily incremental sessionization step (the 100 TB-shaped
    alternative to ``run_daily_job``'s within-day sessionize, which
    splits sessions crossing midnight): fold day ``ds`` of the lake
    relation ``lake`` (``read_lake``) into the session carry state
    (``operators/incremental_sessions.py``).

    Layout under ``out_dir``:

    * ``session_closed/ds=<ds>`` — sessions that ended within ds
      (append-only serving history; each run overwrites exactly its
      own day, so re-runs are idempotent);
    * ``session_state/ds=<ds>`` — the carry AFTER folding ds.  The
      step reads the latest state partition with ds' < ds, so
      re-running day N reads N-1's state and overwrites N's —
      idempotent — and a backfill from day 1 just replays the verbs
      in order.  (Partition discovery is a local listing here; a
      cluster deployment lists via the Hadoop FileSystem API.)

    Both writes read ``advance_sessions``' one checkpointed fold and
    run concurrently.  Returns closed/open row counts for
    observability, observed on the two writes.
    """
    from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
        advance_sessions,
        empty_state,
    )

    day_ds = parse_ds(ds)
    state_root = os.path.join(out_dir, "session_state")
    prev = None
    if os.path.isdir(state_root):
        priors = []
        for name in os.listdir(state_root):
            if not name.startswith("ds="):
                continue
            # a partition name that is not a canonical date would sort
            # among the dates as a string and could become the carry
            try:
                part_ds = parse_ds(name.split("=", 1)[1])
            except ValueError:
                raise ValueError(
                    f"session state partition {os.path.join(state_root, name)!r}"
                    " is not a YYYY-MM-DD date; remove or rename it"
                ) from None
            if part_ds < day_ds:
                priors.append(part_ds)
        prev = max(priors).isoformat() if priors else None
    day = (
        lake.filter(F.col("date") == ds)  # partition-pruned day read
        # null-key rows cannot be stitched; quarantined by the daily
        # pipeline's hygiene step, excluded here for any entry point
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    state = None
    if prev:
        carry = spark.read.format(fmt)
        if fmt == "parquet":
            # the fold's own state schema, so no inference job; a
            # carry of the other timestamp flavor reads value for value
            # in a UTC session.  ORC infers from one footer on the
            # driver (no job) and refuses to convert between the
            # flavors, so it keeps its own schema and the fold's union
            # widens the two.
            carry = carry.schema(empty_state(day).schema)
        state = carry.load(os.path.join(state_root, f"ds={prev}"))
    closed, new_state = advance_sessions(day, state)
    # the counts are Observations on the writes themselves: the rows
    # are counted as they are written, with no job of their own
    n_closed, n_open = Observation(), Observation()
    closed_write = closed.observe(n_closed, F.count(F.lit(1)).alias("n")).write
    state_write = new_state.observe(n_open, F.count(F.lit(1)).alias("n")).write
    _concurrently(
        spark,
        functools.partial(
            closed_write.mode("overwrite").format(fmt).save,
            os.path.join(out_dir, "session_closed", f"ds={ds}"),
        ),
        functools.partial(
            state_write.mode("overwrite").format(fmt).save,
            os.path.join(state_root, f"ds={ds}"),
        ),
    )
    return {"closed": n_closed.get["n"], "open": n_open.get["n"]}


def compact_closed_partition(
    spark: SparkSession, lake_path: str, ds: str, fmt: str = "parquet"
) -> dict:
    """Maintenance step for the daily cadence: once ``ds`` is closed
    (the stream's watermark has passed it), merge its micro-batch
    small files (sources/compaction.py), rewritten in the lake's
    ``fmt``.  Runs naturally right after ``run_daily_job`` for the
    same ds — the day's partition has just been read for the last
    time hot, and every later backfill scan pays file-count costs
    forever if it stays shattered.

    The partition is checked against the lake schema (``check_lake``)
    and read with its data columns, so no job infers them."""
    from data_engineering_user_session_analysis_spark.sources.compaction import compact_partition

    check_lake(spark, lake_path, fmt, [ds])
    return compact_partition(
        spark,
        os.path.join(lake_path, f"date={ds}"),
        StructType(LAKE_SCHEMA.fields[:-1]),  # all but ``date``
        fmt=fmt,
    )


def run_daily_pipeline(
    spark: SparkSession,
    lake_path: str,
    ds: str,
    out_dir: str,
    fmt: str = "parquet",
) -> dict:
    """The composed daily operational verb (``job daily <ds>``) — the
    steps a real deployment runs once per day, each tested on its own:

    1. **ingest hygiene**: quarantine structurally bad rows (null
       user/ts — rows sessionization cannot key) to
       ``out_dir/quarantine/ds=<ds>``; the day's row and quarantine
       counts are observed on that one write;
    2. **incremental session stitch** (``run_incremental_sessions``):
       fold the day into the carry state, emit closed sessions —
       the midnight-exact path;
    3. **serving tables** (``run_daily_job``): session/user-level
       aggregates for the day, written to the serving layout;
    4. **compact <ds-1>** (``compact_closed_partition``): the
       previous day's partition is now closed (the stream's
       watermark has passed it), so merge its micro-batch small
       files before backfills pay file-count costs forever.  A lake
       written by the stream sink carries a ``_spark_metadata`` log
       that compaction must not rename under; there the step is
       skipped and the report records the log's path.

    ``ds`` is parsed (``parse_ds``), and the lake partitions of ds and
    ds-1 are checked against the lake schema (``read_lake``), before
    anything is written: a malformed date or a lake that disagrees
    fails with no partition created under ``out_dir``.  Every step is
    an idempotent per-day overwrite, so re-running any day replaces
    exactly that day's outputs (pinned by ``tests/test_batch_job.py``
    with a 3-day replay + day-2 re-run).  The lake is read once per
    call, with the declared schema both lake writers produce, and that
    one relation feeds the hygiene, stitch and serving steps.  Returns
    a per-step report dict for observability.

    Steps 1-3 run side by side, one thread each: the quarantine write
    and the serving step read only the lake, and the stitch step reads
    the lake and the prior carry state; none reads another's output.
    All three are joined before step 4.  Compaction must not overlap a
    reader of the lake: it swaps the previous day's directory by
    rename and refreshes the file listing of every relation under the
    lake root, the one the other steps share included, and a scan
    running through that refresh can come back without the day's rows.

    A failing step does not stop the other two: they run to the end,
    and the first failure in step order (quarantine, stitch, serving)
    is raised only once every write has ended, so no job is left
    running.  The day's other outputs may then be complete; re-running
    the day overwrites every one of them, so a re-run after the fault
    is mended restores the day exactly.
    """
    prev = (parse_ds(ds) - datetime.timedelta(days=1)).isoformat()
    report: dict = {"ds": ds}
    lake = read_lake(spark, lake_path, fmt, [ds, prev])

    is_bad = F.col("user_id").isNull() | F.col("ts").isNull()
    stats = Observation()
    # the filter sits ABOVE the observation, so the counts cover every
    # row of the day while the write keeps only the bad ones.  ALWAYS
    # overwrite the day's quarantine partition — including with an
    # empty frame when nothing is bad — so a re-run after upstream
    # data was fixed clears the previous run's stale dead-letter rows
    # (the "re-running any day replaces exactly its own outputs"
    # invariant applies to the quarantine sink too).
    quarantine = (
        lake.filter(F.col("date") == ds)  # partition-pruned
        .observe(
            stats,
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(is_bad, 1)).alias("quarantined"),
        )
        .filter(is_bad)
        .write.mode("overwrite")
        .format(fmt)
    )
    # the exclusion itself is enforced by the downstream steps' reads
    # (run_incremental_sessions / run_daily_job drop null-key rows),
    # so the quarantine sink is the RECORD of what they excluded —
    # a dead-lettered row is never also sessionized or served

    _, sessions, serving = _concurrently(
        spark,
        functools.partial(
            quarantine.save, os.path.join(out_dir, "quarantine", f"ds={ds}")
        ),
        functools.partial(run_incremental_sessions, spark, lake, ds, out_dir, fmt=fmt),
        functools.partial(run_daily_job, spark, lake, ds, out_dir, fmt=fmt),
    )
    report["hygiene"] = stats.get  # {"rows": …, "quarantined": …}
    report["sessions"] = sessions
    report["serving_tables"] = sorted(serving)

    from data_engineering_user_session_analysis_spark.sources.compaction import find_sink_log

    prev_dir = os.path.join(lake_path, f"date={prev}")
    if os.path.isdir(prev_dir):
        sink_log = find_sink_log(spark, prev_dir)
        report["compacted_previous"] = (
            {"skipped": sink_log}
            if sink_log is not None
            else compact_closed_partition(spark, lake_path, prev, fmt=fmt)
        )
    return report


def run_backfill(
    spark: SparkSession,
    lake_path: str,
    ds_start: str,
    ds_end: str,
    out_dir: str,
    fmt: str = "parquet",
) -> dict[str, dict[str, DataFrame]]:
    """Re-run the daily job over a closed date range (inclusive) —
    the recovery path after a logic fix or late-landing data.  Days
    run sequentially ON PURPOSE: each day's writes already run
    concurrently over that day's partition-pruned read, so
    overlapping days would only contend for the same executors, and
    sequential days give monotonic, resumable progress (re-running a
    subrange is idempotent because every serving write is a per-day
    overwrite).

    Writes the SAME ``out_dir/<table>/ds=<ds>`` locations the daily
    job writes — a backfill replaces the live serving output for the
    range, which is the whole point of running one.  The lake is read
    once for the whole range, in its format ``fmt``, which is also
    the serving format; every day's partition is checked against the
    lake schema before the first write."""
    start = parse_ds(ds_start)
    end = parse_ds(ds_end)
    if end < start:
        raise ValueError(f"backfill range is empty: {ds_start}..{ds_end}")
    days = [
        (start + datetime.timedelta(days=i)).isoformat()
        for i in range((end - start).days + 1)
    ]
    lake = read_lake(spark, lake_path, fmt, days)
    return {ds: run_daily_job(spark, lake, ds, out_dir, fmt=fmt) for ds in days}


JOB_VERBS = ("daily", "sessions", "backfill", "compact")


def _parse_args(argv: list[str]) -> tuple[str, list[str], str, str]:
    """``(verb, dates, lake, serving)`` of a ``main`` command line, the
    verb ``""`` for a bare date.  Refuses, before any Spark session
    starts, what ``main`` would misread: an option (no verb takes one,
    so ``--x`` would otherwise be read as the lake path), an unknown
    verb, or a date that is not canonical ``YYYY-MM-DD``."""
    for a in argv[1:]:
        if a.startswith("--"):
            raise SystemExit(f"job: unknown option {a!r}; no verb takes options")
    if len(argv) < 2:
        raise SystemExit(f"job: missing <ds> or verb; verbs: {', '.join(JOB_VERBS)}")
    verb = argv[1] if argv[1] in JOB_VERBS else ""
    args = argv[2:] if verb else argv[1:]
    n_dates = 2 if verb == "backfill" else 1
    dates, roots = args[:n_dates], args[n_dates:]
    if len(dates) < n_dates:
        raise SystemExit(f"job {verb}: missing date argument")
    for d in dates:
        try:
            parse_ds(d)
        except ValueError:
            if not verb:
                raise SystemExit(
                    f"job: {d!r} is neither a verb nor a YYYY-MM-DD date; "
                    f"verbs: {', '.join(JOB_VERBS)}"
                ) from None
            raise SystemExit(f"job {verb}: {d!r} is not a YYYY-MM-DD date") from None
    lake = roots[0] if roots else os.environ.get("LAKE_PATH", "/tmp/events_lake")
    serving = roots[1] if len(roots) > 1 else os.environ.get("SERVING_PATH", "/tmp/serving")
    return verb, dates, lake, serving


def main(argv: list[str]) -> None:
    """CLI contract of the reference batch job: ``job <ds> [lake]
    [serving]`` (the serving tables for one day), plus ``job daily
    <ds>`` (the composed pipeline, ``run_daily_pipeline``), ``job
    sessions <ds>`` (the incremental sessionization step), ``job
    backfill <ds_start> <ds_end>`` and ``job compact <ds>``.  Dates
    are ``YYYY-MM-DD``; the lake and serving roots come from the
    trailing arguments or ``LAKE_PATH`` / ``SERVING_PATH``.  The lake
    is parquet."""
    from data_engineering_user_session_analysis_spark import get_spark

    verb, dates, lake, out = _parse_args(argv)
    spark = get_spark(f"job_{verb or 'serving'}")
    if verb == "daily":
        print(run_daily_pipeline(spark, lake, dates[0], out))
    elif verb == "sessions":
        print(run_incremental_sessions(spark, read_lake(spark, lake, "parquet", dates), dates[0], out))
    elif verb == "backfill":
        run_backfill(spark, lake, *dates, out)
    elif verb == "compact":
        print(compact_closed_partition(spark, lake, dates[0]))
    else:
        run_daily_job(spark, read_lake(spark, lake, "parquet", dates), dates[0], out)


if __name__ == "__main__":
    main(sys.argv)
