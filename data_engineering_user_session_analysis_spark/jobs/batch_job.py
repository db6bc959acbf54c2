"""Daily batch job — the reference's ``spark_batch_job.py`` contract
(CLI arg = execution date, reference ``dags/kafka_stream.py:92`` →
``sys.argv[1]``), re-expressed Spark-first:

* **Partition pruning, not path construction**: the reference builds
  the partition directory string by hand
  (``spark_jobs/spark_batch_job.py:17``); here the job reads the lake
  base path and filters ``date = <ds>`` — Catalyst prunes to the same
  files, with schema stability across days (SURVEY.md §4 row 1).
* **One lake read, counts without jobs**: the reference rescans the
  day's data for every one of its 5 actions (no ``.cache()``,
  ``spark_jobs/spark_batch_job.py:27-164``); here the daily pipeline
  reads the lake relation once and hands it to every step, the
  serving step caches the day at its fan-out root so its aggregates
  share one scan, and the report's row counts are ``Observation``s
  on writes that run anyway, not ``count()`` jobs of their own.
* **Serving sink**: parquet directories stand in for the reference's
  Postgres tables (same ``overwrite`` semantics); `jdbc_url` switches
  to real JDBC when a database is reachable.
"""

from __future__ import annotations

import datetime
import os
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.rollup_full import session_rollup_full
from data_engineering_user_session_analysis_spark.operators.sessionize import session_rollup, sessionize
from data_engineering_user_session_analysis_spark.sources.events import load_events


def build_lake(
    spark: SparkSession, sf_dir: str, lake_path: str, fmt: str = "parquet"
) -> None:
    """Materialize the events lake, Hive-partitioned by event date
    (the streaming job's sink layout, reference S4/ST7 — batch twin
    for tests/backfill).  ``fmt`` picks the lake format (parquet or
    ORC — both keep pushdown + partition pruning; see
    sources/formats.py).  Row formats are rejected: an analytics
    lake must be columnar."""
    from data_engineering_user_session_analysis_spark.sources.formats import (
        COLUMNAR_FORMATS,
        write_lake_table,
    )

    if fmt not in COLUMNAR_FORMATS:
        raise ValueError(
            f"lake format must be columnar {COLUMNAR_FORMATS}, got {fmt!r}"
        )
    ev = load_events(spark, sf_dir).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    write_lake_table(ev, lake_path, fmt=fmt, partition_by=("date",))


def run_daily_job(
    spark: SparkSession,
    lake: DataFrame,
    ds: str,
    out_dir: str,
    jdbc_url: str | None = None,
    jdbc_properties: dict[str, str] | None = None,
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

    ``lake`` is the whole lake relation
    (``spark.read.format(fmt).load(lake_path)``); the job filters it
    to ``date = ds`` itself, so a caller running several steps or
    days reads (and lists) the lake once.  Returns the result
    DataFrames keyed by table name (also written to ``out_dir`` in
    the lake format, or to JDBC when ``jdbc_url`` given).  ``fmt`` is
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
    the daily runs produced.  The JDBC path keeps the reference's
    whole-table overwrite (``spark_jobs/spark_batch_job.py`` writes
    each Postgres table in overwrite mode): a serving database holds
    the latest state, the lake holds history.
    """
    from data_engineering_user_session_analysis_spark.sources.formats import COLUMNAR_FORMATS

    if fmt not in COLUMNAR_FORMATS:
        raise ValueError(
            f"lake format must be columnar {COLUMNAR_FORMATS}, got {fmt!r}"
        )
    day = (
        lake.filter(F.col("date") == ds)  # -> PartitionFilters, file pruning
        # rows with no session key cannot be sessionized or attributed
        # to a user — excluded here (the daily pipeline's hygiene step
        # records them in the quarantine sink)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .cache()
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
    try:
        for name, df in results.items():
            if jdbc_url is not None:
                df.write.jdbc(
                    url=jdbc_url,
                    table=name,
                    mode="overwrite",
                    properties=jdbc_properties or {},
                )
            else:
                df.write.mode("overwrite").format(fmt).save(
                    os.path.join(out_dir, name, f"ds={ds}")
                )
    finally:
        day.unpersist()
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
    relation ``lake`` (``spark.read.format(fmt).load(lake_path)``)
    into the session carry state (``operators/incremental_sessions.py``).

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

    Returns closed/open row counts for observability, observed on
    the two writes.
    """
    from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
        advance_sessions,
    )

    state_root = os.path.join(out_dir, "session_state")
    prev = None
    if os.path.isdir(state_root):
        priors = sorted(
            p.split("=", 1)[1]
            for p in os.listdir(state_root)
            if p.startswith("ds=") and p.split("=", 1)[1] < ds
        )
        prev = priors[-1] if priors else None
    state = (
        spark.read.format(fmt).load(os.path.join(state_root, f"ds={prev}"))
        if prev
        else None
    )
    day = (
        lake.filter(F.col("date") == ds)  # partition-pruned day read
        # null-key rows cannot be stitched; quarantined by the daily
        # pipeline's hygiene step, excluded here for any entry point
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    closed, new_state = advance_sessions(day, state)
    # the counts are Observations on the writes themselves: the rows
    # are counted as they are written, with no job of their own
    n_closed, n_open = Observation(), Observation()
    closed.observe(n_closed, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).format(fmt).save(os.path.join(out_dir, "session_closed", f"ds={ds}"))
    new_state.observe(n_open, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).format(fmt).save(os.path.join(state_root, f"ds={ds}"))
    return {"closed": n_closed.get["n"], "open": n_open.get["n"]}


def compact_closed_partition(
    spark: SparkSession,
    lake_path: str,
    ds: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Maintenance step for the daily cadence: once ``ds`` is closed
    (the stream's watermark has passed it), merge its micro-batch
    small files (sources/compaction.py).  Runs naturally right after
    ``run_daily_job`` for the same ds — the day's partition has just
    been read for the last time hot, and every later backfill scan
    pays file-count costs forever if it stays shattered."""
    from data_engineering_user_session_analysis_spark.sources.compaction import compact_partition

    return compact_partition(
        spark,
        os.path.join(lake_path, f"date={ds}"),
        target_file_bytes=target_file_bytes,
    )


def run_docs_index_step(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    ds: str,
    threshold: float = 0.5,
    recall_sample_q: "int | None" = None,
    recall_floor: "float | None" = None,
    auto_tune_recall: bool = False,
) -> dict:
    """Daily document-shard dedup-index step (optional part of
    ``run_daily_pipeline``): probe the persistent MinHash index for
    near-dups of today's shard against ALL PRIOR days (O(shard +
    candidates), never O(corpus) — ``operators/dedup_index.py``),
    drop the duplicate new docs, and index the survivors under an
    idempotent per-day partition (``doc_index/{buckets,sets}/ds=<ds>``
    overwrite — a re-run replaces exactly its own rows and, probing
    only ``ds < today``, sees the same prior corpus).

    Day 1 (no prior index) self-dedups the shard with the star-edge
    graph instead.  Within-shard duplicates on later days fall out of
    the probe's shard self-join (``doc_a < doc_b`` — the min-id doc
    survives).

    ``recall_floor`` / ``auto_tune_recall``: the same breached→tune
    alarm/consumer pair as the vectors step — when the
    ``recall_sample_q`` sensor's measured Jaccard recall at the
    step's threshold falls below the floor, ``recall_breached``
    trips, and with ``auto_tune_recall=True`` the step re-bands
    in-line via ``minhash_index_recall_autotune`` (trail in
    ``recall_tuned``).  A no-true-pairs sensor (recall None) never
    trips the floor.

    A ``recall_floor`` without a ``recall_sample_q`` is rejected up
    front: the breach check lives inside the sensor branch, so a
    floor with no sample size would silently never measure, never
    trip, and never tune — an alarm the caller believes is armed but
    isn't (ADVICE r10)."""
    _validate_recall_args(recall_sample_q, recall_floor, auto_tune_recall)
    from data_engineering_user_session_analysis_spark.operators.dedup import (
        dedup_canonical,
        minhash_dedup_edges,
    )
    from data_engineering_user_session_analysis_spark.operators.dedup_index import (
        append_shard_to_minhash_index,
        incremental_neardup_pairs,
        minhash_index_recall_autotune,
        minhash_index_recall_sample,
        shard_indexed,
    )

    idx = os.path.join(out_dir, "doc_index")
    shard = spark.read.parquet(docs_path)
    report = {"shard_rows": shard.count()}
    complete_days = _complete_prior_days(idx, ds, shard_indexed)
    if complete_days:
        # one probe pass serves the hit count AND the anti-join ids
        # (the candidate joins + verification are the day's expensive
        # work — without the materialization they re-run per action)
        hits = incremental_neardup_pairs(
            spark,
            shard,
            idx,
            threshold=threshold,
            before_ds=ds,
            only_ds=complete_days,
        ).localCheckpoint(eager=True)
        dup_new = hits.select(F.col("doc_b").alias("doc_id")).distinct()
        clean = shard.join(dup_new, "doc_id", "left_anti")
        report["dup_hits"] = hits.count()
    else:
        clean = dedup_canonical(
            shard, minhash_dedup_edges(shard, threshold=threshold)
        )
        report["dup_hits"] = None  # first day: self-dedup only
    # the survivor set feeds two index writes plus the count below
    clean = clean.localCheckpoint(eager=True)
    append_shard_to_minhash_index(clean, idx, ds)
    report["indexed_rows"] = clean.count()
    if recall_sample_q:
        # measured-recall sensor on the index as of today (prediction
        # vs measurement at the step's own threshold) — the daily
        # report then carries alarms AND a measured recall number
        report["recall_check"] = minhash_index_recall_sample(
            spark, idx, threshold=threshold, sample_q=recall_sample_q
        )
        if recall_floor is not None:
            measured = report["recall_check"]["recall_at_threshold"]
            report["recall_breached"] = (
                measured is not None and measured < recall_floor
            )
            report["recall_tuned"] = None
            if auto_tune_recall and report["recall_breached"]:
                # unattended path: keep at least 2 rows per band (a
                # 1-row band admits every shared-shingle pair as a
                # candidate) — the attended CLI can still pass
                # min_rows=1 explicitly; the candidate-load ceiling
                # in the tuner guards both paths (ADVICE r10)
                report["recall_tuned"] = minhash_index_recall_autotune(
                    spark, idx, threshold=threshold,
                    recall_target=recall_floor, sample_q=recall_sample_q,
                    min_rows=2,
                )
    return report


def _complete_prior_days(idx: str, ds: str, indexed_fn) -> list[str]:
    """Prior index days that verifiably COMPLETED (their write's
    ``_SUCCESS`` marker landed — ``indexed_fn(idx, day)``); passed
    into the probes as an isin partition filter so a crashed day's
    partial files are excluded from candidate generation (not merely
    trusted to be absent) until that day's re-run rebuilds them.
    Listing is local; a cluster deployment lists via the Hadoop
    FileSystem API (the same note as the session-state discovery)."""
    buckets_root = os.path.join(idx, "buckets")
    if not os.path.isdir(buckets_root):
        return []
    return sorted(
        p.split("=", 1)[1]
        for p in os.listdir(buckets_root)
        if p.startswith("ds=")
        and p.split("=", 1)[1] < ds
        and indexed_fn(idx, p.split("=", 1)[1])
    )


def _validate_recall_args(
    recall_sample_q: "int | None",
    recall_floor: "float | None",
    auto_tune_recall: bool,
) -> None:
    """Reject recall-sensor configurations that would be silently
    inert: the floor check and the autotune consumer both live inside
    the ``if recall_sample_q:`` sensor branch, so a caller who arms a
    floor (or the tune) without a sample size would get no
    measurement, no ``recall_breached`` key, and no error — an
    orchestrator alerting on ``breached and not tuned`` sees nothing
    (ADVICE r10, medium)."""
    if recall_floor is not None and not recall_sample_q:
        raise ValueError(
            "recall_floor requires a positive recall_sample_q: the "
            "floor is checked against the sampled-recall sensor, so "
            "without a sample size the breach alarm would be "
            "silently inert"
        )
    if auto_tune_recall and recall_floor is None:
        raise ValueError(
            "auto_tune_recall requires a recall_floor: the tune "
            "consumer fires only on a floor breach, so without a "
            "floor it would be silently inert"
        )


def run_vectors_index_step(
    spark: SparkSession,
    emb_path: str,
    out_dir: str,
    ds: str,
    threshold: float = 0.9,
    target_days: int = 365,
    auto_rebuild: bool = False,
    rebuild_margin: float = 1.0,
    recall_sample_q: "int | None" = None,
    recall_floor: "float | None" = None,
    auto_tune_recall: bool = False,
) -> dict:
    """Daily embedding-shard dedup-index step — the vector twin of
    ``run_docs_index_step``: probe the persistent hyperplane-LSH
    index (``operators/dedup_index.py``) for cosine near-dups of
    today's shard against all PRIOR ``_SUCCESS``-complete days
    (O(shard + candidates), never O(corpus)), drop the duplicate new
    vectors, and index the survivors under an idempotent per-day
    partition (``vector_index/{buckets,vectors}/ds=<ds>`` overwrite).

    Day 1 (no prior index) self-dedups the shard with the star-edge
    graph (``lsh_dedup_edges_auto`` → ``dedup_canonical``) instead,
    and freezes the index geometry sized for ``target_days`` of
    shards at today's size (``vector_index_geometry``): a
    hyperplane index's candidate load grows as N/2^planes under a
    FIXED geometry, so the budget math must run against the corpus
    the index will grow into — the fixture-scale default geometry
    measured a 3.7× probe-cost rise over an 11× replay before this
    sizing existed (STRESS r08 ``vector index replay``).

    ``auto_rebuild=True`` gives the outgrown alarm a CONSUMER: when
    today's post-append check trips (``indexed_n > target_n ·
    rebuild_margin``), the step immediately runs
    ``rebuild_vector_index`` sized from the OBSERVED daily rate
    (``ceil(indexed_n / days_indexed) · target_days``, floored at
    2·indexed_n so the new design point always clears the corpus
    with headroom even when growth outpaced ``target_days``), then
    re-checks.  Off by default — a rebuild rewrites the whole index,
    so unattended deployments opt in while others key off the
    report: ``index_outgrown`` is the alarm, ``index_rebuilt`` is
    None unless a rebuild ran (an orchestrator can alert on
    ``outgrown and not rebuilt``).

    ``recall_floor`` gives the RECALL sensor the same alarm/consumer
    pair (the round-10 symmetry: geometry growth has
    outgrown→rebuild, recall now has breached→tune): when the
    ``recall_sample_q`` sensor's measured recall at the step's
    threshold falls below the floor, ``recall_breached`` trips —
    and with ``auto_tune_recall=True`` the step runs
    ``vector_index_recall_autotune`` in-line (inverse banding solve
    → rebuild → re-measure until the floor is met), recording the
    trail in ``recall_tuned``.  Both default off: every autotune
    step is a full re-bucketing rebuild, so unattended deployments
    opt in while others alert on ``breached and not tuned``.  A
    sensor with no true pairs at the threshold (recall None) never
    trips the floor — tuning against a vacuum is refused by the verb
    itself.  As in the docs step, a floor without a
    ``recall_sample_q`` is a configuration error and raises
    (ADVICE r10: the nested breach check would otherwise make the
    alarm silently inert).
    """
    import math

    _validate_recall_args(recall_sample_q, recall_floor, auto_tune_recall)

    from data_engineering_user_session_analysis_spark.operators.dedup import dedup_canonical
    from data_engineering_user_session_analysis_spark.operators.dedup_index import (
        append_shard_to_vector_index,
        incremental_vector_neardup,
        rebuild_vector_index,
        vector_index_outgrown,
        vector_index_recall_sample,
        vector_shard_indexed,
    )
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        lsh_dedup_edges_auto,
    )

    idx = os.path.join(out_dir, "vector_index")
    shard = spark.read.parquet(emb_path)
    report = {"shard_rows": shard.count()}
    complete_days = _complete_prior_days(idx, ds, vector_shard_indexed)
    if complete_days:
        # one probe pass serves the hit count AND the anti-join ids
        hits = incremental_vector_neardup(
            spark,
            shard,
            idx,
            threshold=threshold,
            before_ds=ds,
            only_ds=complete_days,
        ).localCheckpoint(eager=True)
        dup_new = hits.select(F.col("vec_b").alias("vec_id")).distinct()
        clean = shard.join(dup_new, "vec_id", "left_anti")
        report["dup_hits"] = hits.count()
    else:
        clean = dedup_canonical(
            shard,
            lsh_dedup_edges_auto(shard, threshold=threshold),
            id_col="vec_id",
            src="vec_a",
            dst="vec_b",
        )
        report["dup_hits"] = None  # first day: self-dedup only
    # the survivor set feeds two index writes plus the count below
    clean = clean.localCheckpoint(eager=True)
    append_shard_to_vector_index(
        clean, idx, ds, target_n=max(report["shard_rows"], 1) * target_days
    )
    report["indexed_rows"] = clean.count()
    # the geometry-outgrown signal: a fixed-geometry index past its
    # design point pays linearly growing probes SILENTLY — surface it
    # daily so the operator knows when `job reindex-vectors` is due
    report["index_outgrown"] = vector_index_outgrown(spark, idx, margin=rebuild_margin)
    report["index_rebuilt"] = None
    if auto_rebuild and report["index_outgrown"]["outgrown"]:
        # rate denominator = the ds partitions actually IN the index
        # (indexed_n counts the whole index, so the day count must
        # too): `len(complete_days) + 1` counted only days BEFORE ds,
        # which on a backfill re-run of an early day in a long index
        # undercounts severalfold and over-sizes the rebuilt geometry
        # from an inflated observed_daily (ADVICE r09)
        days_indexed = max(
            sum(
                1
                for p in os.listdir(os.path.join(idx, "vectors"))
                if p.startswith("ds=")
            ),
            1,
        )
        observed_daily = math.ceil(
            report["index_outgrown"]["indexed_n"] / days_indexed
        )
        new_target = max(
            observed_daily * target_days,
            2 * report["index_outgrown"]["indexed_n"],
        )
        report["index_rebuilt"] = rebuild_vector_index(spark, idx, new_target)
        report["index_outgrown"] = vector_index_outgrown(
            spark, idx, margin=rebuild_margin
        )
    if recall_sample_q:
        # same sensor-in-report contract as the docs step
        report["recall_check"] = vector_index_recall_sample(
            spark, idx, threshold=threshold, sample_q=recall_sample_q
        )
        if recall_floor is not None:
            from data_engineering_user_session_analysis_spark.operators.dedup_index import (
                vector_index_recall_autotune,
            )

            measured = report["recall_check"]["recall_at_threshold"]
            report["recall_breached"] = (
                measured is not None and measured < recall_floor
            )
            report["recall_tuned"] = None
            if auto_tune_recall and report["recall_breached"]:
                # unattended path: floor planes at 4 (each shed plane
                # doubles random candidates — min_planes=1 would let
                # the ladder walk toward near-all-pairs buckets); the
                # attended CLI keeps the permissive default, and the
                # tuner's candidate-load ceiling guards both paths
                # (ADVICE r10)
                report["recall_tuned"] = vector_index_recall_autotune(
                    spark, idx, threshold=threshold,
                    recall_target=recall_floor, sample_q=recall_sample_q,
                    min_planes=4,
                )
    return report


def run_span_index_step(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    ds: str,
    window: int = 50,
    sample_mod: "int | None" = None,
    max_dup_span_frac: "float | None" = None,
    persist_span_positions: bool = False,
) -> dict:
    """Daily exact-substring (span-grain) step — the third index
    family in the daily loop (optional part of ``run_daily_pipeline``,
    sibling of the MinHash and vector steps): append today's document
    shard to the persistent span-hash index
    (``operators/span_index.py`` — idempotent per-day bucketed
    partition), probe it against all prior COMPLETE days in
    O(day + collisions), and report the shard's duplicated-span
    statistics.

    Unlike the doc-level steps this FLAGS instead of drops: at the
    span grain the right remedial action (drop the paste-heavy doc vs
    rewrite it keeping the canonical copy) is the corpus consumer's
    policy (``CorpusPrepConfig.span_action``), so with
    ``max_dup_span_frac`` set the over-threshold doc ids + coverage
    land in ``out_dir/span_flags/ds=<ds>`` (per-day overwrite — the
    idempotent record ``prepare_corpus`` consumes via
    ``CorpusPrepConfig.span_flags_path``, anti-joining the flagged
    ids out of the survivor set), and the step reports the count
    either way.  The index geometry (window, sample_mod) freezes on
    day one; stored params win afterwards.

    ``persist_span_positions=True`` (requires ``max_dup_span_frac``)
    closes the REWRITE half of the loop (VERDICT r14 #2): the flagged
    docs' duplicated-span anchor positions — with the corpus-wide
    canonical ``keep`` pick (``incremental_span_positions``) — land
    in ``out_dir/span_positions/ds=<ds>`` next to the flag record,
    bounded to flagged docs only, so a later prep run can apply the
    canonical-preserving rewrite (``span_action='rewrite'`` +
    ``CorpusPrepConfig.span_positions_path``) with no inline
    corpus-wide detection.  The partition's ``_write_meta.json``
    carries the index's frozen window (positions are anchors; the
    rewrite needs the extent) and the write threshold."""
    import time as _time

    from data_engineering_user_session_analysis_spark.operators.index_lifecycle import (
        marker_complete_days,
    )
    from data_engineering_user_session_analysis_spark.operators.span_index import (
        _read_span_params,
        append_shard_to_span_index,
        incremental_span_positions,
        incremental_span_stats,
    )

    if persist_span_positions and max_dup_span_frac is None:
        raise ValueError(
            "persist_span_positions needs max_dup_span_frac: the "
            "positions record is bounded to the flagged docs, so a "
            "threshold must select them"
        )

    idx = os.path.join(out_dir, "span_index")
    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()
    # step-level single-kernel discipline (round 15): the append, the
    # stats probe, and the optional positions probe each walk the
    # day's text through the SAME Arrow window kernel — on an
    # existing index (geometry frozen in params/), compute it once,
    # lazily checkpointed, and feed all three.  Day one lets the
    # append freeze the geometry first, then shares the kernel
    # between the two probes.
    from data_engineering_user_session_analysis_spark.operators.span_dedup import (
        positional_window_hashes,
    )

    def _day_hashes():
        p = _read_span_params(spark, idx)
        return positional_window_hashes(
            docs,
            "text",
            p["id_col"],
            window=int(p["window"]),
            sample_mod=p["sample_mod"],
        ).localCheckpoint(eager=False)

    day_hashes = None if _read_span_params(spark, idx) is None else _day_hashes()
    t0 = _time.monotonic()
    append_shard_to_span_index(
        docs, idx, ds, window=window, sample_mod=sample_mod,
        day_hashes=day_hashes,
    )
    append_sec = round(_time.monotonic() - t0, 2)
    if day_hashes is None:
        day_hashes = _day_hashes()
    t0 = _time.monotonic()
    # lazy checkpoint: the all-docs aggregate AND the flag write both
    # consume the stats frame — the probe's kernel+shuffle must run
    # once, not once per consumer
    stats = incremental_span_stats(
        docs, idx, before_ds=ds, only_ds=marker_complete_days(idx),
        day_hashes=day_hashes,
    ).localCheckpoint(eager=False)
    report: dict = {"ds": ds, "shard_docs": n_docs, "append_sec": append_sec}
    # ADVICE r13: (docs_with_dup_spans, dup_tokens) are the ALL-docs
    # aggregate in every config — previously dup_tokens silently
    # switched to a flagged-only sum whenever max_dup_span_frac was
    # set, making the same key incomparable across configs.  The
    # flagged-only sum now has its own key.
    agg_row = stats.agg(
        F.count("*").alias("n"), F.sum("dup_tokens").alias("d")
    ).first()
    report["docs_with_dup_spans"] = agg_row["n"]
    report["dup_tokens"] = int(agg_row["d"] or 0)
    if max_dup_span_frac is not None:
        flagged = stats.filter(F.col("dup_token_frac") > max_dup_span_frac)
        flags_dir = os.path.join(out_dir, "span_flags", f"ds={ds}")
        flagged.write.mode("overwrite").parquet(flags_dir)
        # ADVICE r14: the record only contains docs OVER this write
        # threshold — persist it next to the rows (underscore-prefixed,
        # so parquet readers skip it) so a consumer asking for a lower
        # threshold can be refused instead of silently gating at the
        # write threshold (prepare_corpus validates on read)
        import json as _json

        with open(os.path.join(flags_dir, "_write_meta.json"), "w") as f:
            _json.dump({"max_dup_span_frac": max_dup_span_frac}, f)
        flags = spark.read.parquet(os.path.join(out_dir, "span_flags", f"ds={ds}"))
        report["flagged_over_threshold"] = flags.count()
        report["max_dup_span_frac"] = max_dup_span_frac
        fagg = flags.agg(F.sum("dup_tokens").alias("d")).first()
        report["flagged_dup_tokens"] = int(fagg["d"] or 0)
        if persist_span_positions:
            # the flagged docs' anchor positions with the corpus-wide
            # canonical pick — the record the prep-side rewrite
            # consumes.  Bounded: the semi-join keeps flagged docs
            # only, and per doc the rows are at most its window count.
            params = _read_span_params(spark, idx)
            id_col = params["id_col"]
            positions = incremental_span_positions(
                docs, idx, id_col=id_col, before_ds=ds,
                only_ds=marker_complete_days(idx),
                day_hashes=day_hashes,
            ).join(flags.select(id_col), id_col, "left_semi")
            pos_dir = os.path.join(out_dir, "span_positions", f"ds={ds}")
            positions.write.mode("overwrite").parquet(pos_dir)
            report["flagged_span_positions"] = (
                spark.read.parquet(pos_dir).count()
            )
            import json as _json

            with open(os.path.join(pos_dir, "_write_meta.json"), "w") as f:
                _json.dump(
                    {
                        "window": int(params["window"]),
                        "max_dup_span_frac": max_dup_span_frac,
                    },
                    f,
                )
    report["probe_sec"] = round(_time.monotonic() - t0, 2)
    report["complete_days"] = len(marker_complete_days(idx))
    return report


def run_daily_pipeline(
    spark: SparkSession,
    lake_path: str,
    ds: str,
    out_dir: str,
    fmt: str = "parquet",
    compact_previous: bool = True,
    docs_path: str | None = None,
    emb_path: str | None = None,
    auto_rebuild_vector_index: bool = False,
    recall_sample_q: "int | None" = None,
    vector_recall_floor: "float | None" = None,
    auto_tune_vector_recall: bool = False,
    doc_recall_floor: "float | None" = None,
    auto_tune_doc_recall: bool = False,
    span_window: "int | None" = None,
    span_sample_mod: "int | None" = None,
    max_dup_span_frac: "float | None" = None,
    persist_span_positions: bool = False,
) -> dict:
    """The composed daily operational verb (``job daily <ds>``) — the
    sequence a real deployment runs once per day, chaining the
    individually-tested steps in dependency order:

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
       skipped and the report records the log's path;
    5. **dedup-index probe** (``run_docs_index_step``, only when
       ``docs_path`` names today's document shard): near-dup probe
       against all prior days' index, drop dups, index survivors;
    6. **vector-index probe** (``run_vectors_index_step``, only when
       ``emb_path`` names today's embedding shard): the cosine twin
       of step 5 over the persistent hyperplane-LSH index; with
       ``auto_rebuild_vector_index=True`` an outgrown geometry is
       rebuilt in-line (sized from the observed daily rate) instead
       of only alarming in the report.
    7. **span-index probe** (``run_span_index_step``, only when
       ``span_window`` is set alongside ``docs_path``): the
       substring-grain third index family — append the shard's
       window hashes, score it against the stored corpus, and (with
       ``max_dup_span_frac``) record over-threshold doc ids in
       ``span_flags/ds=<ds>`` for the corpus consumer's drop policy —
       plus, with ``persist_span_positions``, the flagged docs'
       canonical-picked span positions in ``span_positions/ds=<ds>``
       for the consumer's rewrite policy (VERDICT r14 #2).

    Every step is an idempotent per-day overwrite, so re-running any
    day replaces exactly that day's outputs (pinned by
    ``tests/test_batch_job.py`` with a 3-day replay + day-2 re-run).
    The lake is read once per call and that one relation feeds the
    hygiene, stitch and serving steps.  Returns a per-step report
    dict for observability.
    """
    report: dict = {"ds": ds}
    lake = spark.read.format(fmt).load(lake_path)

    is_bad = F.col("user_id").isNull() | F.col("ts").isNull()
    stats = Observation()
    # the filter sits ABOVE the observation, so the counts cover every
    # row of the day while the write keeps only the bad ones.  ALWAYS
    # overwrite the day's quarantine partition — including with an
    # empty frame when nothing is bad — so a re-run after upstream
    # data was fixed clears the previous run's stale dead-letter rows
    # (the "re-running any day replaces exactly its own outputs"
    # invariant applies to the quarantine sink too).
    (
        lake.filter(F.col("date") == ds)  # partition-pruned
        .observe(
            stats,
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(is_bad, 1)).alias("quarantined"),
        )
        .filter(is_bad)
        .write.mode("overwrite")
        .format(fmt)
        .save(os.path.join(out_dir, "quarantine", f"ds={ds}"))
    )
    report["hygiene"] = stats.get  # {"rows": …, "quarantined": …}
    # the exclusion itself is enforced by the downstream steps' reads
    # (run_incremental_sessions / run_daily_job drop null-key rows),
    # so the quarantine sink is the RECORD of what they excluded —
    # a dead-lettered row is never also sessionized or served

    report["sessions"] = run_incremental_sessions(
        spark, lake, ds, out_dir, fmt=fmt
    )

    serving = run_daily_job(spark, lake, ds, out_dir, fmt=fmt)
    report["serving_tables"] = sorted(serving)

    if compact_previous:
        from data_engineering_user_session_analysis_spark.sources.compaction import find_sink_log

        prev = (datetime.date.fromisoformat(ds) - datetime.timedelta(days=1)).isoformat()
        prev_dir = os.path.join(lake_path, f"date={prev}")
        if os.path.isdir(prev_dir):
            sink_log = find_sink_log(spark, prev_dir)
            report["compacted_previous"] = (
                {"skipped": sink_log}
                if sink_log is not None
                else compact_closed_partition(spark, lake_path, prev)
            )

    if docs_path is not None:
        report["dedup_index"] = run_docs_index_step(
            spark, docs_path, out_dir, ds,
            recall_sample_q=recall_sample_q,
            recall_floor=doc_recall_floor,
            auto_tune_recall=auto_tune_doc_recall,
        )
    if emb_path is not None:
        report["vector_index"] = run_vectors_index_step(
            spark, emb_path, out_dir, ds,
            auto_rebuild=auto_rebuild_vector_index,
            recall_sample_q=recall_sample_q,
            recall_floor=vector_recall_floor,
            auto_tune_recall=auto_tune_vector_recall,
        )
    # span-grain third index family: opt-in via span_window (the
    # shard is the same docs_path the MinHash step consumes)
    if docs_path is not None and span_window is not None:
        report["span_index"] = run_span_index_step(
            spark, docs_path, out_dir, ds,
            window=span_window,
            sample_mod=span_sample_mod,
            max_dup_span_frac=max_dup_span_frac,
            persist_span_positions=persist_span_positions,
        )
    return report


def run_backfill(
    spark: SparkSession,
    lake_path: str,
    ds_start: str,
    ds_end: str,
    out_dir: str,
) -> dict[str, dict[str, DataFrame]]:
    """Re-run the daily job over a closed date range (inclusive) —
    the recovery path after a logic fix or late-landing data.  Days
    run sequentially ON PURPOSE: each day's read is partition-pruned
    and cached independently, so concurrency would only contend for
    the same executors, and sequential days give monotonic,
    resumable progress (re-running a subrange is idempotent because
    every serving write is a per-day overwrite).

    Writes the SAME ``out_dir/<table>/ds=<ds>`` locations the daily
    job writes — a backfill replaces the live serving output for the
    range, which is the whole point of running one.  The lake is read
    once for the whole range."""
    start = datetime.date.fromisoformat(ds_start)
    end = datetime.date.fromisoformat(ds_end)
    if end < start:
        raise ValueError(f"backfill range is empty: {ds_start}..{ds_end}")
    lake = spark.read.parquet(lake_path)
    out: dict[str, dict[str, DataFrame]] = {}
    day = start
    while day <= end:
        ds = day.isoformat()
        out[ds] = run_daily_job(spark, lake, ds, out_dir)
        day += datetime.timedelta(days=1)
    return out


JOB_VERBS = (
    "daily", "sessions", "backfill", "compact", "reindex-vectors",
    "validate-vector-recall", "validate-minhash-recall",
    "tune-recall-vectors", "tune-recall-minhash", "span-index",
    "compact-span-index",
)


def main(argv: list[str]) -> None:
    """CLI contract of the reference batch job: ``job <ds>`` (plus the
    maintenance verbs ``job compact <ds>`` and
    ``job reindex-vectors <vector_index_path> <target_n>`` /
    ``job tune-recall-vectors <vector_index_path> [threshold] [recall_target] [sample_q]`` /
    ``job validate-vector-recall <vector_index_path> [threshold] [sample_q]`` /
    ``job validate-minhash-recall <minhash_index_path> [threshold] [sample_q]`` /
    ``job tune-recall-minhash <minhash_index_path> [threshold] [recall_target] [sample_q]``,
    ``job span-index <ds> <index_path> [docs_path]`` /
    ``job compact-span-index <index_path> [--before-ds <ds>] [--monthly]``,
    ``job backfill <ds_start> <ds_end>``, the incremental
    sessionization step ``job sessions <ds>``, and the composed
    operational pipeline ``job daily <ds> [--auto-rebuild-vectors]
    [--recall-check] [--tune-vector-recall] [--tune-doc-recall]``
    — the index steps read today's shard locations from
    ``DOCS_SHARD_PATH`` / ``EMB_SHARD_PATH`` and are skipped when
    unset)."""
    from data_engineering_user_session_analysis_spark import get_spark

    if argv[1] == "daily":
        # --auto-rebuild-vectors: let the vector-index step consume its
        # own outgrown alarm (rebuild in-line) instead of only
        # reporting it — the unattended-deployment posture
        auto_rebuild = "--auto-rebuild-vectors" in argv
        # --recall-check: attach the measured-recall sensors to the
        # daily index-step reports (sample_q 20)
        # --tune-vector-recall / --tune-doc-recall: give the sensors
        # their consumers — on a measured breach of the 0.8 floor,
        # tune the geometry in-line (each implies --recall-check)
        tune_recall = "--tune-vector-recall" in argv
        tune_doc_recall = "--tune-doc-recall" in argv
        recall_q = (
            20
            if ("--recall-check" in argv or tune_recall or tune_doc_recall)
            else None
        )
        # --span-index: enable the substring-grain index step over the
        # same DOCS_SHARD_PATH shard (window from SPAN_WINDOW, default
        # the public protocol's 50; flags threshold from
        # SPAN_MAX_DUP_FRAC when set)
        span_on = "--span-index" in argv
        # --span-positions: also persist the flagged docs' canonical
        # span positions (rewrite record — needs SPAN_MAX_DUP_FRAC)
        span_pos = "--span-positions" in argv
        argv = [
            a for a in argv
            if a not in (
                "--auto-rebuild-vectors", "--recall-check",
                "--tune-vector-recall", "--tune-doc-recall",
                "--span-index", "--span-positions",
            )
        ]
        ds = argv[2]
        lake = argv[3] if len(argv) > 3 else os.environ.get("LAKE_PATH", "/tmp/events_lake")
        out = argv[4] if len(argv) > 4 else os.environ.get("SERVING_PATH", "/tmp/serving")
        report = run_daily_pipeline(
            get_spark("daily_pipeline"), lake, ds, out,
            # today's doc/embedding shards for the dedup-index steps
            # (steps skipped when unset, same as the Python API)
            docs_path=os.environ.get("DOCS_SHARD_PATH"),
            emb_path=os.environ.get("EMB_SHARD_PATH"),
            auto_rebuild_vector_index=auto_rebuild,
            recall_sample_q=recall_q,
            vector_recall_floor=0.8 if tune_recall else None,
            auto_tune_vector_recall=tune_recall,
            doc_recall_floor=0.8 if tune_doc_recall else None,
            auto_tune_doc_recall=tune_doc_recall,
            span_window=(
                int(os.environ.get("SPAN_WINDOW", "50")) if span_on else None
            ),
            span_sample_mod=(
                int(os.environ["SPAN_SAMPLE_MOD"])
                if span_on and os.environ.get("SPAN_SAMPLE_MOD")
                else None
            ),
            max_dup_span_frac=(
                float(os.environ["SPAN_MAX_DUP_FRAC"])
                if span_on and os.environ.get("SPAN_MAX_DUP_FRAC")
                else None
            ),
            persist_span_positions=span_pos,
        )
        print(report)
        return
    if argv[1] == "sessions":
        ds = argv[2]
        lake = argv[3] if len(argv) > 3 else os.environ.get("LAKE_PATH", "/tmp/events_lake")
        out = argv[4] if len(argv) > 4 else os.environ.get("SERVING_PATH", "/tmp/serving")
        spark = get_spark("incremental_sessions_job")
        report = run_incremental_sessions(spark, spark.read.parquet(lake), ds, out)
        print(report)
        return
    if argv[1] == "backfill":
        ds_start, ds_end = argv[2], argv[3]
        lake = argv[4] if len(argv) > 4 else os.environ.get("LAKE_PATH", "/tmp/events_lake")
        out = argv[5] if len(argv) > 5 else os.environ.get("SERVING_PATH", "/tmp/serving")
        run_backfill(get_spark("backfill_job"), lake, ds_start, ds_end, out)
        return
    if argv[1] == "compact":
        ds = argv[2]
        lake = argv[3] if len(argv) > 3 else os.environ.get("LAKE_PATH", "/tmp/events_lake")
        report = compact_closed_partition(get_spark("lake_compaction"), lake, ds)
        print(report)
        return
    if argv[1] == "reindex-vectors":
        # re-bucket the persistent vector index under a geometry sized
        # for the corpus it has grown into (`job reindex-vectors
        # <path> <target_n>`)
        from data_engineering_user_session_analysis_spark.operators.dedup_index import (
            rebuild_vector_index,
        )

        print(
            rebuild_vector_index(
                get_spark("vector_reindex"), argv[2], int(argv[3])
            )
        )
        return
    if argv[1] == "validate-vector-recall":
        # measured near-dup recall of the persistent vector index on
        # an exact-cosine sample (`job validate-vector-recall <path>
        # [threshold] [sample_q]`): prediction next to measurement
        from data_engineering_user_session_analysis_spark.operators.dedup_index import (
            vector_index_recall_sample,
        )

        threshold = float(argv[3]) if len(argv) > 3 else 0.85
        sample_q = int(argv[4]) if len(argv) > 4 else 30
        print(
            vector_index_recall_sample(
                get_spark("vector_recall_check"), argv[2],
                threshold=threshold, sample_q=sample_q,
            )
        )
        return
    if argv[1] == "validate-minhash-recall":
        # measured near-dup recall of the persistent MinHash index on
        # an exact-Jaccard sample (`job validate-minhash-recall <path>
        # [threshold] [sample_q]`) — the text twin of
        # validate-vector-recall
        from data_engineering_user_session_analysis_spark.operators.dedup_index import (
            minhash_index_recall_sample,
        )

        threshold = float(argv[3]) if len(argv) > 3 else 0.7
        sample_q = int(argv[4]) if len(argv) > 4 else 20
        print(
            minhash_index_recall_sample(
                get_spark("minhash_recall_check"), argv[2],
                threshold=threshold, sample_q=sample_q,
            )
        )
        return
    if argv[1] == "tune-recall-vectors":
        # closed-loop GEOMETRY sizing for the persistent hyperplane
        # index (`job tune-recall-vectors <path> [threshold] [target]
        # [sample_q]`): rebuild under progressively wider geometry
        # until measured sample recall meets the target — the
        # actuation for a validate-vector-recall breach (every step
        # is a full re-bucketing; see the operator docstring)
        from data_engineering_user_session_analysis_spark.operators.dedup_index import (
            vector_index_recall_autotune,
        )

        threshold = float(argv[3]) if len(argv) > 3 else 0.85
        target = float(argv[4]) if len(argv) > 4 else 0.9
        sample_q = int(argv[5]) if len(argv) > 5 else 30
        print(
            vector_index_recall_autotune(
                get_spark("vector_recall_tune"), argv[2],
                threshold=threshold, recall_target=target, sample_q=sample_q,
            )
        )
        return
    if argv[1] == "tune-recall-minhash":
        # closed-loop GEOMETRY sizing for the persistent MinHash index
        # (`job tune-recall-minhash <path> [threshold] [target]
        # [sample_q]`): re-band until measured Jaccard recall meets
        # the target — the text member of the actuator family
        from data_engineering_user_session_analysis_spark.operators.dedup_index import (
            minhash_index_recall_autotune,
        )

        threshold = float(argv[3]) if len(argv) > 3 else 0.5
        target = float(argv[4]) if len(argv) > 4 else 0.9
        sample_q = int(argv[5]) if len(argv) > 5 else 20
        print(
            minhash_index_recall_autotune(
                get_spark("minhash_recall_tune"), argv[2],
                threshold=threshold, recall_target=target, sample_q=sample_q,
            )
        )
        return
    if argv[1] == "span-index":
        # daily ExactSubstr maintenance (operators/span_index.py):
        # append today's doc shard to the persistent span-hash index
        # (idempotent per-day partition), then probe it against the
        # stored corpus — the O(day) alternative to re-running batch
        # span detection over the whole corpus each day.  Usage:
        # ``job span-index <ds> <index_path> [docs_path]``; docs_path
        # falls back to DOCS_SHARD_PATH.  The first day freezes the
        # geometry (window/sample_mod from SPAN_WINDOW /
        # SPAN_SAMPLE_MOD env, defaulting to the public protocol's
        # 50-token window); later days read params/ back.
        from data_engineering_user_session_analysis_spark.operators.index_lifecycle import (
            marker_complete_days,
        )
        from data_engineering_user_session_analysis_spark.operators.span_dedup import (
            EXACTSUBSTR_WINDOW,
        )
        from data_engineering_user_session_analysis_spark.operators.span_index import (
            append_shard_to_span_index,
            incremental_span_stats,
        )

        ds = argv[2]
        idx = argv[3]
        docs_path = argv[4] if len(argv) > 4 else os.environ.get("DOCS_SHARD_PATH")
        if not docs_path:
            raise SystemExit("span-index: docs_path arg or DOCS_SHARD_PATH required")
        smod = os.environ.get("SPAN_SAMPLE_MOD")
        spark = get_spark("span_index_job")
        docs = spark.read.parquet(docs_path)
        append_shard_to_span_index(
            docs,
            idx,
            ds,
            window=int(os.environ.get("SPAN_WINDOW", EXACTSUBSTR_WINDOW)),
            sample_mod=int(smod) if smod else None,
        )
        stats = incremental_span_stats(
            docs, idx, before_ds=ds, only_ds=marker_complete_days(idx)
        )
        agg = stats.agg(
            F.count("*").alias("flagged_docs"),
            F.sum("dup_tokens").alias("dup_tokens"),
        ).first()
        print(
            {
                "ds": ds,
                "index": idx,
                "shard_docs": docs.count(),
                "flagged_docs": agg["flagged_docs"],
                "dup_tokens": int(agg["dup_tokens"] or 0),
                "complete_days": len(marker_complete_days(idx)),
            }
        )
        return
    if argv[1] == "compact-span-index":
        # fold the span index's complete days (small-files
        # maintenance; folded days become CLOSED — see
        # operators/span_index.compact_span_index).  Optional:
        #   --before-ds <ds>   keep days >= ds individual (open window)
        #   --monthly          rolling mode: fold into per-month
        #                      super-partitions, O(changed months)
        from data_engineering_user_session_analysis_spark.operators.span_index import (
            compact_span_index,
        )

        opts = argv[3:]
        before = (
            opts[opts.index("--before-ds") + 1]
            if "--before-ds" in opts
            else None
        )
        gran = "month" if "--monthly" in opts else "all"
        print(
            compact_span_index(
                get_spark("span_index_compaction"),
                argv[2],
                before_ds=before,
                granularity=gran,
            )
        )
        return
    ds = argv[1]
    try:
        datetime.date.fromisoformat(ds)
    except ValueError:
        raise SystemExit(
            f"job: {ds!r} is neither a verb nor a YYYY-MM-DD date; "
            f"verbs: {', '.join(JOB_VERBS)}"
        ) from None
    lake = argv[2] if len(argv) > 2 else os.environ.get("LAKE_PATH", "/tmp/events_lake")
    out = argv[3] if len(argv) > 3 else os.environ.get("SERVING_PATH", "/tmp/serving")
    spark = get_spark("daily_batch_job")
    run_daily_job(spark, spark.read.parquet(lake), ds, out)


if __name__ == "__main__":
    main(sys.argv)
