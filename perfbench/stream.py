"""The ingest op of ``registry_sweep``: a backlog of Kafka-shaped JSON
message files drained through ``decode_json_messages`` ->
``enrich_events`` -> ``write_lake_stream`` by a query with an
available-now trigger (the reference's batch-0 catch-up).

Each message file holds ``key``, ``value``, ``topic``, ``partition``,
``offset`` and ``timestamp`` lines.  Event times cross midnight and
arrive out of order, so the sink writes two date partitions.  The
backlog is written once, in the set-up; every drain reads it with a
fresh checkpoint into a fresh lake, and the lake's per-date row counts
must equal the generator's ledger.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics

import numpy as np

SIZES = {
    "paper": {"backlog_events": 20000, "backlog_files": 8},
    "smoke": {"backlog_events": 1000, "backlog_files": 2},
}
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
MIDNIGHT = dt.datetime(2024, 3, 2, tzinfo=dt.timezone.utc)

LAYER = "ingest_stream"
LAYER_METRICS = [
    f"{LAYER}.{m}"
    for m in (
        "drain_s", "add_batch_ms", "latest_offset_ms", "get_batch_ms",
        "wal_commit_ms", "commit_offsets_ms", "query_planning_ms",
        "rows_per_batch", "batches", "lake_files_per_batch", "jobs", "tasks",
        "exec_cpu_s", "output_bytes",
    )
]
_DURATIONS = {
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
}


def write_backlog(landing: str, staging: str, seed: int, backlog_events: int,
                  backlog_files: int) -> dict[str, int]:
    """``backlog_files`` message files of ``backlog_events`` events over the 24 hours around
    midnight, shuffled within each file.  Each file is written in
    ``staging`` and moved into ``landing`` whole.  Returns the ledger:
    events per event date."""
    rng = np.random.default_rng(seed)
    events = backlog_events
    os.makedirs(landing)
    os.makedirs(staging, exist_ok=True)
    base = MIDNIGHT.timestamp() - 43200
    ts = np.sort(rng.uniform(base, base + 86400, events))
    users = (rng.zipf(1.3, events) % 5000).tolist()
    types = rng.choice(len(EVENT_TYPES), events).tolist()
    values = np.round(rng.exponential(50.0, events), 2).tolist()
    stamps = np.datetime_as_string(
        (ts * 1e6).astype("int64").astype("datetime64[us]"), unit="us"
    )
    created_ms = int(MIDNIGHT.timestamp() * 1000) + 43_200_000
    ledger = {
        str(day): int(count)
        for day, count in zip(*np.unique(stamps.astype("U10"), return_counts=True))
    }
    for f, chunk in enumerate(np.array_split(np.arange(events), backlog_files)):
        lines = []
        for i in rng.permutation(chunk).tolist():
            value = (
                f'{{"event_id": {i}, "ts": "{stamps[i]}Z", '
                f'"user_id": {users[i]}, "event_type": "{EVENT_TYPES[types[i]]}", '
                f'"value": {values[i]!r}, "props": "{{\\"k\\": {users[i] % 100}}}"}}'
            )
            lines.append(json.dumps({
                "key": str(users[i]), "value": value, "topic": "user-event",
                "partition": 0, "offset": i, "timestamp": created_ms,
            }))
        name = f"msg-{f:06d}.json"
        with open(os.path.join(staging, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(os.path.join(staging, name), os.path.join(landing, name))
    return ledger


def start_drain(spark, landing: str, lake: str, ckpt: str):
    """The ingest chain over ``landing``, started with an available-now
    trigger: it drains what is there and stops."""
    from pyspark.sql import types as T

    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
        decode_json_messages,
        enrich_events,
        write_lake_stream,
    )

    kafka_shaped = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.LongType()),
    ])
    raw = spark.readStream.schema(kafka_shaped).json(landing)
    return write_lake_stream(
        enrich_events(decode_json_messages(raw)), lake, ckpt,
        trigger_available_now=True,
    )


def finish_drain(query, lake: str) -> dict:
    """Wait for a drain to stop; its run id, its micro-batches' progress
    reports and its lake's file count.  Raises what stopped the
    stream."""
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    progress = [json.loads(p.json) for p in query.recentProgress]
    return {
        "run_id": str(query.runId),
        "progress": [p for p in progress if p.get("numInputRows", 0) > 0],
        "lake_files": len(glob.glob(os.path.join(lake, "date=*", "*.parquet"))),
    }


def lake_check(lake: str, ledger: dict[str, int]) -> str | None:
    """Per-date lake row counts, read with DuckDB, against the ledger."""
    import duckdb

    con = duckdb.connect()
    got = dict(con.execute(
        f"SELECT CAST(date AS VARCHAR), count(*) FROM read_parquet("
        f"'{lake}/date=*/*.parquet', hive_partitioning = true, "
        f"hive_types = {{'date': VARCHAR}}) GROUP BY 1"
    ).fetchall())
    con.close()
    return None if got == ledger else f"lake rows per date {got} != ledger {ledger}"


def layer_metrics(drains: list[dict], by_group: dict) -> dict[str, float]:
    """Medians over the drains' micro-batches of the progress-report
    phases; per drain, the batches and lake files; per micro-batch, the
    event-log counters of the drains' jobs (job group = run id)."""
    batches = [p for d in drains for p in d["progress"]]
    n = max(len(batches), 1)
    out = {
        f"{LAYER}.{k}": statistics.median(
            p["durationMs"].get(v, 0) for p in batches) if batches else 0.0
        for k, v in _DURATIONS.items()
    }
    out[f"{LAYER}.rows_per_batch"] = (
        statistics.median(p["numInputRows"] for p in batches) if batches else 0.0
    )
    out[f"{LAYER}.batches"] = len(batches) / max(len(drains), 1)
    out[f"{LAYER}.lake_files_per_batch"] = sum(d["lake_files"] for d in drains) / n
    for c in ("jobs", "tasks", "exec_cpu_s", "output_bytes"):
        out[f"{LAYER}.{c}"] = sum(
            by_group.get(d["run_id"], {}).get(c, 0) for d in drains) / n
    return out
