"""Streaming semantics tests (SURVEY.md §5.3): ingest-to-lake
pipeline, streaming/batch sessionization equivalence, and the
10-minute watermark late-drop behavior the reference checkpoint
evidences."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.sessionize import session_rollup, sessionize
from data_engineering_user_session_analysis_spark.sources.events import load_events
from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
    enrich_events,
    read_file_stream,
    write_lake_stream,
)
from data_engineering_user_session_analysis_spark.streaming.session_stream import (
    session_window_rollup,
    write_memory_sink,
)


def test_ingest_stream_to_partitioned_lake(spark, sf_small, tmp_path):
    """File stream → enrich → partitioned parquet lake with
    checkpoint (reference S4/ST2/ST7)."""
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    stream = read_file_stream(spark, os.path.join(sf_small, "events.parquet"))
    q = write_lake_stream(
        enrich_events(stream), lake, ckpt, partition_col="date", trigger_available_now=True
    )
    q.awaitTermination(120)
    out = spark.read.parquet(lake)
    src_count = load_events(spark, sf_small).count()
    assert out.count() == src_count
    # Hive-style partition dirs by event date
    assert any(d.startswith("date=") for d in os.listdir(lake))
    # restart on same checkpoint: no duplication (exactly-once sink)
    q2 = write_lake_stream(
        enrich_events(read_file_stream(spark, os.path.join(sf_small, "events.parquet"))),
        lake,
        ckpt,
        partition_col="date",
        trigger_available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(lake).count() == src_count


def test_session_window_equals_batch_gap_sessionization(spark, sf_small):
    """The streaming operator's gap semantics == the batch lag/cumsum
    construction, per-session aggregate for aggregate."""
    ev = load_events(spark, sf_small)
    batch = session_rollup(sessionize(ev, order_cols=("event_id",))).select(
        "user_id",
        "session_start_time",
        "session_duration_seconds",
        "number_of_events",
        "first_event_type",
        "last_event_type",
    )
    sw = session_window_rollup(ev).select(
        "user_id",
        "session_start_time",
        "session_duration_seconds",
        "number_of_events",
        "first_event_type",
        "last_event_type",
    )
    assert batch.exceptAll(sw).count() == 0
    assert sw.exceptAll(batch).count() == 0


def test_streaming_rollup_equals_batch(spark, sf_small):
    stream = read_file_stream(spark, os.path.join(sf_small, "events.parquet"))
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = write_memory_sink(
        session_window_rollup(stream, watermark="3650 days"), name, output_mode="complete"
    )
    q.processAllAvailable()
    q.stop()
    streamed = spark.table(name)
    batch = session_window_rollup(load_events(spark, sf_small))
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Reference ST3/ST5: a 10-minute watermark drops events that
    arrive (in a later batch) with event time older than
    max_seen - 10 min."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 12:00:00")

    def mk(path, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1]).value for r in rows],  # nanos-as-long
                "user_id": [r[2] for r in rows],
                "event_type": ["view"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(path)

    # batch 1: user 1 events up to 12:00 → watermark will be 11:50
    mk(src / "a.parquet", [(1, base - pd.Timedelta("2h"), 1), (2, base, 1)])

    stream = read_file_stream(spark, str(src), max_files_per_trigger=1)
    rollup = session_window_rollup(stream, watermark="10 minutes")
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        rollup.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one event far older than the watermark → dropped;
        # one fresh event → kept
        mk(
            src / "b.parquet",
            [(3, base - pd.Timedelta("3h"), 2), (4, base + pd.Timedelta("1m"), 3)],
        )
        q.processAllAvailable()
        # batch 3: advance watermark far so all live sessions close/emit
        mk(src / "c.parquet", [(5, base + pd.Timedelta("2h"), 4)])
        q.processAllAvailable()
    finally:
        q.stop()
    users = {r.user_id for r in spark.table(name).collect()}
    assert 1 in users and 3 in users, f"on-time sessions missing: {users}"
    assert 2 not in users, "late event beyond watermark was not dropped"


def test_streaming_drop_duplicates(spark, tmp_path):
    """Streaming deduplication: the same event_id arriving again in a
    later micro-batch is suppressed (state-backed dropDuplicates)."""
    import pandas as pd

    src = tmp_path / "dup_src"
    src.mkdir()

    def mk(path, ids):
        pd.DataFrame(
            {
                "event_id": ids,
                "ts": [pd.Timestamp("2024-01-01 12:00:00").value] * len(ids),
                "user_id": [1] * len(ids),
                "event_type": ["view"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        ).to_parquet(path)

    mk(src / "a.parquet", [1, 2, 3])
    stream = read_file_stream(spark, str(src), max_files_per_trigger=1)
    deduped = stream.dropDuplicates(["event_id"])
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        mk(src / "b.parquet", [2, 3, 4])  # 2,3 are replays
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r.event_id for r in spark.table(name).collect())
    assert ids == [1, 2, 3, 4], ids


def test_foreach_batch_upsert_idempotent(spark, sf_small, tmp_path):
    """Replaying the same micro-batch through the upsert sink leaves
    the output unchanged (key-level MERGE semantics), and the sink
    leaves the session's partitionOverwriteMode as it found it."""
    from data_engineering_user_session_analysis_spark.streaming.session_stream import (
        foreach_batch_upsert_parquet,
    )

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key)
    out = str(tmp_path / "upsert")
    batch = enrich_events(load_events(spark, sf_small)).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    write = foreach_batch_upsert_parquet(out)
    write(batch, 0)
    first = spark.read.parquet(out).count()
    write(batch, 0)  # replay of the same epoch
    assert spark.read.parquet(out).count() == first
    # a new batch touching one partition upserts only that partition
    one_day = batch.filter(F.col("date") == batch.select("date").first().date)
    write(one_day, 1)
    assert spark.read.parquet(out).count() == first
    assert spark.conf.get(mode_key) == mode_before


def test_foreach_batch_upsert_partial_partition_no_data_loss(
    spark, sf_small, tmp_path
):
    """A batch carrying only PART of a partition's rows must upsert
    those rows and keep the partition's previously committed
    remainder (the round-1 partition-overwrite sink silently deleted
    it — data-loss path now pinned)."""
    from data_engineering_user_session_analysis_spark.streaming.session_stream import (
        foreach_batch_upsert_parquet,
    )

    out = str(tmp_path / "upsert_partial")
    batch = enrich_events(load_events(spark, sf_small)).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    write = foreach_batch_upsert_parquet(out)
    write(batch, 0)
    first = spark.read.parquet(out).count()
    day = batch.select("date").first().date
    one_day = batch.filter(F.col("date") == day)
    day_total = one_day.count()
    # update 5 existing rows (value bumped) + insert 1 brand-new row
    updates = one_day.orderBy("event_id").limit(5).withColumn(
        "value", F.col("value") + 1000.0
    )
    inserts = (
        one_day.orderBy("event_id")
        .limit(1)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    write(updates.unionByName(inserts), 1)
    got = spark.read.parquet(out)
    # nothing lost: all original rows still there, plus the 1 insert
    assert got.count() == first + 1
    assert got.filter(F.col("date") == day).count() == day_total + 1
    # the 5 updates landed (value > 1000 only exists post-bump)
    updated_ids = {r.event_id for r in updates.select("event_id").collect()}
    bumped = {
        r.event_id
        for r in got.filter(F.col("value") >= 1000.0).select("event_id").collect()
        if r.event_id in updated_ids
    }
    assert bumped == updated_ids


def test_stateful_restart_recovers_session_state(spark, tmp_path):
    """Reference ST6 for the STATEFUL operator: a session open at
    shutdown must merge with events arriving after a checkpoint
    restart (state store recovery, not just sink idempotence)."""
    import pandas as pd

    src = tmp_path / "restart_src"
    src.mkdir()
    ckpt = str(tmp_path / "restart_ckpt")
    base = pd.Timestamp("2024-01-01 12:00:00")

    def mk(path, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1]).value for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": ["view"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(path)

    out_dir = str(tmp_path / "restart_out")

    def start_query():
        # memory sink cannot recover from a checkpoint; the parquet
        # sink is the fault-tolerant path (same as the lake sink)
        stream = read_file_stream(spark, str(src), max_files_per_trigger=1)
        rollup = session_window_rollup(stream, watermark="10 minutes")
        return (
            rollup.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # run 1: two events 10 min apart -> one open session, then stop
    mk(src / "a.parquet", [(1, base, 1), (2, base + pd.Timedelta("10m"), 1)])
    q = start_query()
    q.processAllAvailable()
    q.stop()

    # run 2 (same checkpoint): an event 10 min later extends the SAME
    # session; a far-future event closes it
    mk(src / "b.parquet", [(3, base + pd.Timedelta("20m"), 1)])
    mk(src / "c.parquet", [(4, base + pd.Timedelta("6h"), 2)])
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()

    sessions = [
        (r.number_of_events, r.session_duration_seconds)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id == 1
    ]
    # all three events in ONE session spanning 20 minutes — proof the
    # restarted query recovered the open session from the state store
    assert sessions == [(3, 1200)], sessions


def test_kafka_source_gate_is_informative(spark):
    """S1 without the connector jar: the Kafka reader must fail fast
    with a message pointing at the file-source twin, not a raw py4j
    ClassNotFoundException at stream start."""
    import pytest

    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import read_kafka_stream

    with pytest.raises(RuntimeError, match="read_file_stream"):
        read_kafka_stream(spark, "broker:9092")


def test_decode_quarantine_splits_poison_messages(spark, sf_small):
    """Batch twin of the dead-letter decode: malformed message values
    (truncated JSON, wrong types, missing event_id) land in the
    quarantine branch with their raw text; every valid message decodes
    exactly as the plain decoder would.  Branches partition the input:
    counts add up, no row in both."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.sources.replay import as_kafka_messages
    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
        decode_json_messages,
        decode_json_messages_with_quarantine,
    )

    good = as_kafka_messages(
        load_events(spark, sf_small).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    )
    poison = spark.createDataFrame(
        [
            ("k1", '{"event_id": 1, "user_id":'),  # truncated
            ("k2", "not json at all"),
            ("k3", '{"user_id": 7, "event_type": "view"}'),  # no event_id
            ("k4", ""),  # empty value
        ],
        "key string, value string",
    ).select(F.col("key").cast("binary"), F.col("value").cast("binary"))
    messages = good.unionByName(poison)

    valid, quarantine = decode_json_messages_with_quarantine(messages)
    n_good = good.count()
    assert valid.count() == n_good
    assert quarantine.count() == 4
    raws = {r.raw_value for r in quarantine.collect()}
    assert "not json at all" in raws
    # valid branch decodes identically to the plain decoder over the
    # clean subset
    plain = decode_json_messages(good)
    assert valid.exceptAll(plain).count() == 0
    assert plain.exceptAll(valid).count() == 0


def test_streaming_quarantine_both_sinks(spark, sf_small, tmp_path):
    """The split runs as a STREAM: one file-stream source feeds two
    sinks (lake + quarantine) — poison messages reach the dead-letter
    parquet, valid events reach the lake, exactly once each."""

    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.sources.replay import as_kafka_messages
    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
        decode_json_messages_with_quarantine,
    )

    src = tmp_path / "messages"
    good = as_kafka_messages(
        load_events(spark, sf_small).limit(200).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    ).select(F.col("value").cast("string").alias("value"))
    poison = spark.createDataFrame(
        [("{bad",), ("also bad",)], "value string"
    )
    good.unionByName(poison).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema("value string").parquet(str(src))
    )
    valid, quarantine = decode_json_messages_with_quarantine(stream)
    lake = str(tmp_path / "lake")
    dead = str(tmp_path / "dead")
    q1 = (
        valid.writeStream.format("parquet")
        .option("path", lake)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q2 = (
        quarantine.writeStream.format("parquet")
        .option("path", dead)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()
    q2.awaitTermination()
    assert spark.read.parquet(lake).count() == 200
    bad_rows = spark.read.parquet(dead).collect()
    assert {r.raw_value for r in bad_rows} == {"{bad", "also bad"}
