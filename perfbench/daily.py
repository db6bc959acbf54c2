"""``daily_paper``: ``run_daily_pipeline(ds)`` once per day, in date
order, on a lake of paper-size days.

The lake is written directly as parquet (``date=<ds>`` partitions, a
few append files per day) rather than through the stream: a lake
written by ``write_lake_stream`` carries the file sink's
``_spark_metadata`` log, and ``compact_closed_partition`` refuses to
compact under it, so the daily job raises from day 2 on such a lake
(see README.md).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness
import spans

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
TYPE_P = [0.55, 0.30, 0.08, 0.02, 0.05]
FIRST_DAY = dt.date(2024, 3, 1)

SIZES = {
    # the paper's traffic: ~5k events a day from a few hundred users
    "paper": {"events_per_day": 5000, "users": 600, "days": 12,
              "files_per_day": 4, "warmup_days": 2},
    "smoke": {"events_per_day": 300, "users": 40, "days": 5,
              "files_per_day": 2, "warmup_days": 1},
}
# untraced (False) and spanned (True) days of a traced run
TRACE_ORDER = (False, True, True, False)


def generate_lake(lake: str, seed: int, size: dict) -> int:
    """Seeded sessions (Zipf-skewed users, exponential gaps, some
    crossing midnight) and a few null-user rows for the quarantine
    step.  Returns the number of events written."""
    rng = np.random.default_rng(seed)
    n_days, per_day = size["days"], size["events_per_day"]
    n_events = n_days * per_day
    day_s = 86400.0
    # sessions: ~8 events each, 60 s mean gap, start anywhere in the span
    n_sessions = n_events // 8
    lens = rng.geometric(1 / 8, n_sessions)
    lens = lens[np.cumsum(lens) <= n_events]
    starts = rng.uniform(0, n_days * day_s - 3600, len(lens))
    users = (rng.zipf(1.3, len(lens)) - 1) % size["users"]
    sess = np.repeat(np.arange(len(lens)), lens)
    gaps = rng.exponential(60.0, len(sess))
    first = np.r_[0, np.cumsum(lens)[:-1]]
    offs = np.cumsum(gaps) - np.repeat(np.cumsum(gaps)[first], lens)
    t = starts[sess] + offs
    keep = t < n_days * day_s
    t, user = t[keep], users[sess][keep].astype(np.int64)
    order = np.argsort(t, kind="stable")
    t, user = t[order], user[order]
    n = len(t)
    ts_us = (np.datetime64(FIRST_DAY, "us") + (t * 1e6).astype("int64")).astype(
        "datetime64[us]"
    )
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=TYPE_P)]
    value = np.round(rng.exponential(50.0, n), 2)
    user_null = rng.random(n) < 0.002
    day_idx = (t // day_s).astype(int)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user, pa.int64(), mask=user_null),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
            "extracted_date": pa.array(
                np.datetime64(FIRST_DAY, "D") + day_idx, pa.date32()
            ),
            "date_of_week": pa.array(
                [(FIRST_DAY + dt.timedelta(days=int(d))).strftime("%A") for d in day_idx]
            ),
            "hour_of_day": pa.array(((t % day_s) // 3600).astype(np.int32)),
        }
    )
    bounds = np.searchsorted(day_idx, np.arange(n_days + 1))
    k = size["files_per_day"]
    for d in range(n_days):
        part = os.path.join(lake, f"date={FIRST_DAY + dt.timedelta(days=d)}")
        os.makedirs(part)
        lo, hi = bounds[d], bounds[d + 1]
        # several appends per day: the small files compaction merges
        cuts = np.linspace(lo, hi, k + 1).astype(int)
        for j in range(k):
            pq.write_table(
                table.slice(cuts[j], cuts[j + 1] - cuts[j]),
                os.path.join(part, f"part-{j:05d}.parquet"),
            )
    return n


def check_sessions(spark, lake: str, out: str, days: list[str], last: str):
    """Closed sessions of every folded day plus the final open state
    must equal batch ``session_rollup(sessionize(...))`` over the same
    days.  Returns a problem string or None."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
        finalize_sessions,
    )
    from data_engineering_user_session_analysis_spark.operators.sessionize import (
        session_rollup,
        sessionize,
    )

    events = (
        spark.read.parquet(lake)
        .filter(F.col("date").cast("string").isin(days))
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    expected = session_rollup(sessionize(events, order_cols=("event_id",)))
    cols = expected.columns
    closed = spark.read.parquet(os.path.join(out, "session_closed")).select(*cols)
    state = spark.read.parquet(os.path.join(out, "session_state", f"ds={last}"))
    got = closed.unionByName(finalize_sessions(state).select(*cols))

    def digest(df):
        h = F.pmod(F.xxhash64(*[F.col(c).cast("string") for c in cols]), F.lit(2**31 - 1))
        r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
        return r["n"], r["h"]

    want, have = digest(expected), digest(got)
    if want != have:
        return f"sessions: batch rollup {want} != closed+open {have}"
    return None


def check_user_level(lake: str, out: str, days: list[str]) -> list[str]:
    """Each day's ``user_level`` against a DuckDB aggregate over the
    lake files: row count and an order-insensitive hash."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    in_days = ",".join(f"'{d}'" for d in days)
    row = "hash(user_id, total_purchases, total_spent, n_events, n_event_types)"
    expected = con.execute(
        f"""
        SELECT CAST(date AS VARCHAR) AS ds, count(*), sum({row}) FROM (
          SELECT date, user_id,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
              AS total_purchases,
            CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_spent,
            CAST(count(*) AS BIGINT) AS n_events,
            CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
          FROM read_parquet('{lake}/*/*.parquet', hive_partitioning = true,
                            hive_types = {{'date': VARCHAR}})
          WHERE user_id IS NOT NULL AND ts IS NOT NULL AND date IN ({in_days})
          GROUP BY date, user_id)
        GROUP BY ds"""
    ).fetchall()
    got = con.execute(
        f"""
        SELECT ds, count(*), sum({row}) FROM (
          SELECT CAST(ds AS VARCHAR) AS ds, CAST(user_id AS BIGINT) AS user_id,
            CAST(total_purchases AS BIGINT) AS total_purchases,
            CAST(total_spent AS DOUBLE) AS total_spent,
            CAST(n_events AS BIGINT) AS n_events,
            CAST(n_event_types AS BIGINT) AS n_event_types
          FROM read_parquet('{out}/user_level/*/*.parquet', hive_partitioning = true,
                            hive_types = {{'ds': VARCHAR}}))
        WHERE ds IN ({in_days})
        GROUP BY ds"""
    ).fetchall()
    con.close()
    want = {r[0]: r[1:] for r in expected}
    have = {r[0]: r[1:] for r in got}
    return [
        f"user_level {d}: duckdb {want.get(d)} != spark {have.get(d)}"
        for d in days
        if want.get(d) != have.get(d)
    ]


def corrupt_output(out: str, ds: str) -> None:
    """Drop one ``user_level`` file of day ``ds``: the smoke run's
    proof that a wrong output trips the checks."""
    part = os.path.join(out, "user_level", f"ds={ds}")
    victim = sorted(f for f in os.listdir(part) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(part, victim))


def run(spark, work: str, seed: int, seconds: float, size_name: str,
        tracer=None, corrupt: bool = False) -> dict:
    from data_engineering_user_session_analysis_spark.jobs import batch_job
    from data_engineering_user_session_analysis_spark.operators import (
        incremental_sessions,
    )
    from data_engineering_user_session_analysis_spark.sources import compaction

    size = SIZES[size_name]
    lake = os.path.join(work, "lake")
    n_events = 0

    def setup():
        nonlocal n_events
        shutil.rmtree(lake, ignore_errors=True)
        n_events = generate_lake(lake, seed, size)

    setup_s = harness.median_of(setup)
    out = os.path.join(work, "serving")
    days = [str(FIRST_DAY + dt.timedelta(days=d)) for d in range(size["days"])]
    ops = harness.Ops()
    done: list[str] = []

    def one_day(ds: str, traced: bool) -> tuple[float, int] | None:
        ops.attempted += 1
        t0 = time.perf_counter()
        try:
            span = tracer.span("batch_job.run_daily_pipeline") if traced else nullcontext()
            with span:
                report = batch_job.run_daily_pipeline(spark, lake, ds, out)
        except Exception as exc:  # a day that raises is one failed op
            ops.fail(f"day {ds} raised {type(exc).__name__}: {exc}"[:300])
            return None
        done.append(ds)
        return time.perf_counter() - t0, report["hygiene"]["rows"]

    # warm-up days fill the JIT and the state; then days are timed in a
    # closed loop while another fits before the deadline (at least
    # two).  Days keep speeding up for about six days (the first runs
    # ~3.5 times as long as a warm one, the third ~35% longer), more
    # warm-up than a run can spend, so the timed days sit on the end of
    # that curve, at the same place in every run.
    walls: list[float] = []
    untraced: list[float] = []
    events_timed = 0
    queue = list(days)
    t_warm = time.perf_counter()
    for _ in range(size["warmup_days"]):
        if one_day(queue.pop(0), False) is None:
            queue = []
    warmup_s = time.perf_counter() - t_warm

    def wrap_layers():
        tracer.wrap(batch_job, "run_incremental_sessions",
                    "batch_job.run_incremental_sessions")
        tracer.wrap(incremental_sessions, "advance_sessions",
                    "incremental_sessions.advance_sessions")
        tracer.wrap(batch_job, "run_daily_job", "batch_job.run_daily_job")
        tracer.wrap(compaction, "compact_partition",
                    "compaction.compact_partition")

    if tracer is None:
        deadline = time.perf_counter() + seconds
        last = 0.0
        while queue and (len(walls) < 2 or time.perf_counter() + last < deadline):
            result = one_day(queue.pop(0), False)
            if result is None:
                break
            last = result[0]
            walls.append(last)
            events_timed += result[1]
    else:
        # a traced run times untraced and spanned days in the order
        # U T T U, so both sides sit at the same mean point of the
        # warm-up curve; the two medians give the tracing overhead
        for traced in TRACE_ORDER:
            if not queue:
                break
            if traced:
                wrap_layers()
            result = one_day(queue.pop(0), traced)
            tracer.unwrap()
            if result is None:
                break
            if traced:
                walls.append(result[0])
                events_timed += result[1]
            else:
                untraced.append(result[0])

    t_check = time.perf_counter()
    if corrupt and done:
        corrupt_output(out, done[-1])
    if done:
        try:
            problem = check_sessions(spark, lake, out, done, done[-1])
            if problem:
                ops.fail(problem)
            for problem in check_user_level(lake, out, done):
                ops.fail(problem)
        except Exception as exc:
            ops.fail(f"check raised {type(exc).__name__}: {exc}"[:300])
    check_s = time.perf_counter() - t_check
    total = sum(walls)
    return {
        "ops": ops,
        "setup_s": setup_s,
        "op_p50_s": statistics.median(walls) if walls else 0.0,
        "op_samples": walls,
        "work_per_s": events_timed / total if total else 0.0,
        "untraced_samples": untraced,
        "sizes": {**size, "events": n_events},
        "notes": {"days_folded": len(done), "days_timed": len(walls),
                  "events_timed": events_timed,
                  "warmup_s": warmup_s, "check_s": check_s},
    }


def layer_metrics(res: dict, tracer, by_group: dict, jobs: list) -> dict[str, float]:
    """Per-layer counters from the spans.  A job submitted during a
    traced day that carries no group of that day's spans escaped the
    attribution: that is a failure."""
    root = "batch_job.run_daily_pipeline"
    seen, missed = spans.unattributed_jobs(tracer, root, jobs)
    if missed or not seen:
        res["ops"].fail(f"{missed} of {seen} jobs of traced days carry no span group")
    res["notes"].update({"traced_day_jobs": seen, "unattributed_jobs": missed,
                         "self_sum_error_s": spans.self_sum_error_s(tracer, root)})
    return spans.layer_metrics(tracer, by_group)
