#!/usr/bin/env python
"""sf≈1 stress bench: inflate sf0.1 by 10 clone shards with disjoint
id spaces (the re-crawl scenario — every doc/vector gains 9 exact
clones, the hardest realistic load for near-dup pipelines), then run
the pair-generating queries and log their CANDIDATE counts alongside
wall time.  The scaling curve of candidates — not wall-clock alone —
is what predicts 100 TB behavior.

Embedding LSH applies the registry row's sizing law (vector_lsh.py
``oracle_geometry``): planes from the bit-length of N (keeps the
candidate set LINEAR in N — r04's fixed bucket-size-125 rule kept it
quadratic and produced a 66× verify overhead at 20k vectors), tables
raised to hold near-dup recall.
Measured clone-pair recall (exact clones sit at cosine 1.0) is
recorded next to the candidate counts.

Usage: ``python stress_bench.py`` — prints one JSON line per scale
plus a summary line.  ``--emb-100x`` (or SPARK_GRAFT_EMB_100X=1)
adds a second scaling decade for the vector tier only: 100 clone
shards = 200k vectors, checking that the budget-sized LSH keeps
random-candidate load per vector flat across 2k -> 20k -> 200k while
clone recall stays 1.0.  ``--events-100x`` (SPARK_GRAFT_EVENTS_100X)
does the same for the core sessionization workload: 10M events, 100×
the users.  ``--tpch-100x`` (SPARK_GRAFT_TPCH_100X) adds a 100×
decade for the relational/join tier (60M-row lineitem on disk).
``--docs-100x`` (SPARK_GRAFT_DOCS_100X)
adds the doc tier's third
decade (200k docs) via the STAR-EDGE dedup pipeline
(``minhash_dedup_edges``): linear edge output where the all-pairs
form is quadratic in clone-group size — the measurement is edges per
doc staying ~flat across base/10×/100×.  The
relational tier itself (registered TPC-H-shape queries over 10×
clone-grown facts with fixed dims) always runs.  ``--ingest``
(SPARK_GRAFT_INGEST_STRESS) adds the streaming file-stream→lake
ingest throughput twin at base and 10×.  ``--incsessions``
(SPARK_GRAFT_INCSESSIONS) adds the day-by-day incremental
sessionization replay at base and 10×.

Each tier runs in its OWN JVM (``--tier <name>`` subprocess): a
single long-lived session accumulates shuffle/code-cache/old-gen
pressure that inflates later tiers 2-4× versus isolated runs.
Output is committed as STRESS_sf1_r{N}.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPLICAS = 10
BASE = "/root/testdata/sf0.1"
OUT = os.environ.get("SPARK_GRAFT_STRESS_DIR", "/tmp/spark_graft_stress_sf1")

# disjoint id spaces per replica shard
SHIFTS = {
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}

# relational (TPC-H-ish) fact growth: orders/lineitem/customer clone
# with consistent key shifts (clone orders keep their clone customer
# and their clone lineitems), while part/supplier/nation/region stay
# FIXED — the realistic shape of a growing warehouse, and the one
# that stresses joins: fact×fact co-growth plus fact→fixed-dim fanout.
TPCH_SHIFTS = {
    "lineitem": {"l_orderkey": 1_000_000},
    "orders": {"o_orderkey": 1_000_000, "o_custkey": 100_000},
    "customer": {"c_custkey": 100_000},
}
TPCH_DIMS = ("region", "nation", "supplier", "part")


def _build_clone_table(spark, src_path: str, dst_path: str, shifts: dict, replicas: int) -> None:
    """Clone one table `replicas`× with per-shard key shifts, in-plan
    via a broadcast replica-range cross join (linear, no N-way union)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_path)
    rep = df.crossJoin(
        F.broadcast(spark.range(replicas).select(F.col("id").alias("_r")))
    )
    for col, step in shifts.items():
        rep = rep.withColumn(col, F.col(col) + F.col("_r") * F.lit(step))
    # File count must grow with the data: the crossJoin keeps the
    # source's partition count, so a 10x clone of a 2-file table
    # would land in 2 files and serialize every downstream scan to 2
    # threads — an artifact no real warehouse table has.  Match the
    # box's parallelism (floor) and scale with replicas.
    n_files = max(spark.sparkContext.defaultParallelism, replicas)
    rep.drop("_r").repartition(n_files).write.mode("overwrite").parquet(dst_path)


def _table_complete(dst: str) -> bool:
    """A table dir counts as built only if Spark's `_SUCCESS` marker
    landed — a crashed mid-write run leaves a partial dir that a bare
    existence check would silently reuse, skewing every downstream
    stress timing."""
    return os.path.exists(os.path.join(dst, "_SUCCESS"))


def build(
    spark,
    out: str | None = None,
    replicas: int = REPLICAS,
    only: tuple[str, ...] | None = None,
) -> None:
    """Idempotent per-table: each table is (re)built unless its output
    dir holds a complete write (`_SUCCESS` present), so a stress dir
    built by an earlier round gains the relational tier without
    rebuilding the rest while partial dirs from a crashed run are
    rebuilt, not reused.  `only` restricts the clone set (the 100x
    relational dir skips the event/doc/vector tiers it never reads)."""
    out = out or OUT
    os.makedirs(out, exist_ok=True)
    # events.parquet carries TIMESTAMP(NANOS): surface as nano-longs
    # (the clone shards re-write them as plain longs; load_events
    # converts to TimestampType at the boundary either way)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for table, shifts in {**SHIFTS, **TPCH_SHIFTS}.items():
        if only is not None and table not in only:
            continue
        dst = os.path.join(out, f"{table}.parquet")
        if not _table_complete(dst):
            _build_clone_table(
                spark, os.path.join(BASE, f"{table}.parquet"), dst, shifts, replicas
            )
    for table in TPCH_DIMS:  # fixed dims: copy once, unshifted
        dst = os.path.join(out, f"{table}.parquet")
        if not _table_complete(dst):
            spark.read.parquet(os.path.join(BASE, f"{table}.parquet")).write.mode(
                "overwrite"
            ).parquet(dst)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3)


def _quiesce(spark) -> None:
    """Drop caches and nudge both GCs before a recorded pass — the
    prior tier's shuffle files, cache entries, and unreferenced
    localCheckpoint RDDs otherwise bleed memory pressure into the
    next timing (observed: 3× on the 100x neardup verify)."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


def measure_vectors(spark, emb, replicas: int | None = None) -> dict:
    """The vector tier (LSH near-dup) over any embeddings DataFrame —
    shared by the sf-dir measurement and the 100x embeddings-only
    pass."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        lsh_candidate_pairs,
        lsh_similarity_pairs,
        oracle_geometry,
    )

    res: dict = {}
    n_vec = emb.count()
    res["n_vectors"] = n_vec
    # scale-aware sizing: planes from the bit-length of N, tables
    # from the near-dup recall target (the registry row's law)
    tables, planes = oracle_geometry(n_vec)
    res["lsh_planes"] = planes
    res["lsh_tables"] = tables
    res["lsh_candidates"], res["lsh_candidates_sec"] = timed(
        lambda: lsh_candidate_pairs(emb, planes=planes, tables=tables).count()
    )
    pairs_df = lsh_similarity_pairs(emb, planes=planes, tables=tables).cache()
    res["embedding_neardup_pairs"], res["embedding_neardup_sec"] = timed(
        lambda: pairs_df.count()
    )
    res["lsh_candidate_to_pair_ratio"] = (
        round(res["lsh_candidates"] / res["embedding_neardup_pairs"], 2)
        if res["embedding_neardup_pairs"]
        else None
    )
    if replicas:
        # exact clones share an origin id modulo the shard shift and
        # sit at cosine 1.0 — identical signatures, so a correct
        # pipeline recovers every such pair at ANY plane depth.
        shift = SHIFTS["embeddings"]["vec_id"]
        caught = pairs_df.filter(
            (F.col("vec_a") % shift) == (F.col("vec_b") % shift)
        ).count()
        expected = (n_vec // replicas) * (replicas * (replicas - 1) // 2)
        res["clone_true_pairs"] = expected
        res["clone_pair_recall"] = round(caught / expected, 4) if expected else None
    pairs_df.unpersist()
    return res


def measure(spark, sf_dir: str, label: str, replicas: int | None = None) -> dict:
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_lsh_pairs,
        shingle_docs,
        simhash_fingerprints,
        simhash_pairs,
        simhash_value_candidate_pairs,
    )
    from data_engineering_user_session_analysis_spark.operators.sessionize import (
        session_rollup,
        sessionize,
    )
    from data_engineering_user_session_analysis_spark.sources.events import load_events
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    res: dict = {"label": label}

    ev = load_events(spark, sf_dir)
    res["n_events"] = ev.count()
    _, res["session_rollup_sec"] = timed(
        lambda: session_rollup(sessionize(ev, order_cols=("event_id",)))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    docs = load_table(spark, sf_dir, "documents")
    res["n_docs"] = docs.count()
    sh = shingle_docs(docs).cache()
    sh.count()
    res["minhash_candidates"], res["minhash_candidates_sec"] = timed(
        lambda: minhash_candidate_pairs(sh).count()
    )
    res["minhash_pairs"], res["minhash_pairs_sec"] = timed(
        lambda: minhash_lsh_pairs(docs).count()
    )
    fp = simhash_fingerprints(docs).cache()
    fp.count()
    # Since r04 the engine enumerates SimHash candidates at the
    # distinct-fingerprint-value level (clone-robust).  The metric
    # lives under its OWN key: the doc-level `simhash_candidates`
    # series (r03: 674k base / 67.6M stress on this corpus) measured
    # a different quantity and is retired rather than silently
    # redefined — comparing the raw keys across rounds would read as
    # a massive spurious improvement.
    res["simhash_value_candidates"], res["simhash_value_candidates_sec"] = timed(
        lambda: simhash_value_candidate_pairs(fp).count()
    )
    res["simhash_pairs"], res["simhash_pairs_sec"] = timed(
        lambda: simhash_pairs(docs).count()
    )
    sh.unpersist()
    fp.unpersist()

    emb = load_table(spark, sf_dir, "embeddings")
    res.update(measure_vectors(spark, emb, replicas))

    # Composed corpus-prep pipeline at this scale: docs/s plus the
    # per-stage survivor counts (the report IS the count chain, so a
    # stage that degrades at 10x is named, not inferred).
    from data_engineering_user_session_analysis_spark.pipelines.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    def _run_prep():
        result, report = prepare_corpus(docs, config=CorpusPrepConfig(pack_budget=2048))
        result.write.format("noop").mode("overwrite").save()
        return report

    report, prep_sec = timed(_run_prep)
    res["corpus_prep_sec"] = prep_sec
    res["corpus_prep_docs_per_sec"] = round(res["n_docs"] / prep_sec, 1) if prep_sec else None
    res["corpus_prep_stages"] = report
    spark.catalog.clearCache()
    return res


RELATIONAL_QUERIES = (
    "q1_pricing_summary",          # scan + 8-agg hash aggregation
    "top_customers",               # fact⋈dim + agg + deterministic top-k
    "q3_shipping_priority",        # 3-way join + agg + top-k
    "q5_local_supplier_volume",    # 6-way join (2 growing facts, 4 fixed dims)
    "order_fulfillment_full_outer",  # full-outer fact⋈fact (output grows with data)
    "customer_running_total",      # window frame: partitions grow in COUNT not size
)
# event-grain window sweep (ranking family + time-range frame); only
# measured where the dir carries an events clone
EVENT_WINDOW_QUERY = "event_window_functions"


def measure_relational(spark, sf_dir: str, label: str) -> dict:
    """The relational/join tier over any sf-style directory — the
    registered TPC-H-shape queries run verbatim (same code path the
    driver correctness-checks), timed to a noop sink so every output
    column is materialized.  Best-of-2: one-shot timings at clone
    scale are dominated by the cold first scan."""
    from data_engineering_user_session_analysis_spark.queries import QUERIES

    _quiesce(spark)
    res: dict = {"label": label}
    res["n_lineitem"] = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    )
    res["n_orders"] = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    names = list(RELATIONAL_QUERIES)
    if os.path.exists(os.path.join(sf_dir, "events.parquet")):
        names.append(EVENT_WINDOW_QUERY)
    for name in names:
        res[f"{name}_rows"] = QUERIES[name](spark, sf_dir).count()
        # best-of-2, plus a third trial for sub-2s queries: their
        # signal is the most easily swamped by one noisy window
        # (observed: a 0.9s query measuring 7.0s once in best-of-2)
        best = float("inf")
        trials = 0
        while trials < 3:
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            trials += 1
            if trials >= 2 and best >= 2.0:
                break
        res[f"{name}_sec"] = round(best, 3)
    return res


def measure_ingest(spark, sf_dir: str, label: str) -> dict:
    """Streaming ingest throughput twin: the same file-stream →
    enrich → partitioned-lake pipeline bench.py measures at sf0.1,
    run against a clone-grown events table — the check that the
    STREAMING path (micro-batch planning, partitioned parquet sink)
    scales with data and not just the batch plans."""
    import shutil
    import tempfile

    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
        enrich_events,
        read_file_stream,
        write_lake_stream,
    )

    _quiesce(spark)
    src = os.path.join(sf_dir, "events.parquet")
    n = spark.read.parquet(src).count()
    tmp = tempfile.mkdtemp(prefix="stress_ingest_")
    try:
        t0 = time.perf_counter()
        q = write_lake_stream(
            enrich_events(read_file_stream(spark, src)),
            os.path.join(tmp, "lake"),
            os.path.join(tmp, "ckpt"),
            trigger_available_now=True,
        )
        q.awaitTermination()
        sec = time.perf_counter() - t0
        return {
            "label": label,
            "n_events": n,
            "ingest_sec": round(sec, 3),
            "ingest_events_per_sec": round(n / sec, 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure_incremental_sessions(spark, sf_dir: str, label: str) -> dict:
    """Day-by-day incremental sessionization replay over a whole
    events directory — the check that the daily step's cost tracks
    the DAY's size (events/s roughly flat per day) while state stays
    O(active users).  State round-trips through parquet per day, the
    documented production pattern."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.incremental_sessions import (
        advance_sessions,
        finalize_sessions,
    )
    from data_engineering_user_session_analysis_spark.sources.events import load_events

    _quiesce(spark)
    ev = load_events(spark, sf_dir).localCheckpoint(eager=True)
    n = ev.count()
    days = [
        r["d"]
        for r in ev.select(F.to_date("ts").alias("d")).distinct().orderBy("d").collect()
    ]
    tmp = tempfile.mkdtemp(prefix="stress_incsessions_")
    try:
        state = None
        t0 = time.perf_counter()
        for i, d in enumerate(days):
            day = ev.filter(F.to_date("ts") == F.lit(d))
            closed, state = advance_sessions(day, state)
            closed.write.mode("append").parquet(os.path.join(tmp, "closed"))
            sp = os.path.join(tmp, f"state_{i % 2}")  # ping-pong, bounded disk
            state.write.mode("overwrite").parquet(sp)
            state = spark.read.parquet(sp)
        closed_rows = spark.read.parquet(os.path.join(tmp, "closed")).count()
        open_rows = finalize_sessions(state).count()
        sec = time.perf_counter() - t0
        return {
            "label": label,
            "n_events": n,
            "n_days": len(days),
            "sessions_closed": closed_rows,
            "sessions_open": open_rows,
            "replay_sec": round(sec, 3),
            "sec_per_day": round(sec / len(days), 3) if days else None,
            "events_per_sec": round(n / sec, 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure_docs_star(spark, docs, label: str, base_docs: int) -> dict:
    """Star-edge doc dedup (operators/dedup.py:minhash_dedup_edges)
    over any documents DataFrame: exact-dup star edges + rep-only
    MinHash/LSH pairs → components → canonical survivors.  The
    metric that matters is EDGES PER DOC staying ~1 across decades —
    the all-pairs form is quadratic in clone-group size by
    construction (g²/2 true pairs per group), which is why the doc
    tier was excluded from the 100× stress until this pipeline
    existed."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.dedup import (
        connected_components,
        minhash_dedup_edges,
    )

    _quiesce(spark)
    res: dict = {"label": label}
    n = docs.count()
    res["n_docs"] = n
    edges = minhash_dedup_edges(docs, threshold=0.5).cache()
    res["dedup_edges"], res["dedup_edges_sec"] = timed(lambda: edges.count())
    by_type = {
        r.edge_type: r.cnt
        for r in edges.groupBy("edge_type").agg(F.count("*").alias("cnt")).collect()
    }
    res["star_edges"] = by_type.get("exact", 0)
    res["neardup_edges"] = by_type.get("neardup", 0)
    res["edges_per_doc"] = round(res["dedup_edges"] / n, 3) if n else None
    # the quadratic the star form avoids: every clone group of size g
    # holds g(g-1)/2 true pairs (plus the base corpus's own near-dup
    # pairs) — at 100 clones per doc that is 4950 rows per group.
    g = n // base_docs if base_docs else 1
    res["allpairs_clone_pairs_lower_bound"] = base_docs * g * (g - 1) // 2
    comp, res["components_sec"] = timed(
        lambda: connected_components(edges)
        .filter(F.col("node") != F.col("component"))
        .count()
    )
    res["cluster_losers"] = comp  # docs removed by keep-one-per-cluster
    edges.unpersist()
    return res


def measure_docs_100x(spark, replicas: int = 100) -> dict:
    """Third decade for the doc tier via the star-edge pipeline —
    200k docs (100 clone shards), previously excluded because the
    all-pairs output is quadratic in clone-group size."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    n_base = base.count()
    shift = SHIFTS["documents"]["doc_id"]
    docs = (
        base.crossJoin(
            F.broadcast(spark.range(replicas).select(F.col("id").alias("_r")))
        )
        .withColumn("doc_id", F.col("doc_id") + F.col("_r") * F.lit(shift))
        .drop("_r")
        .repartition(max(spark.sparkContext.defaultParallelism, 32))
        .localCheckpoint(eager=True)
    )
    return measure_docs_star(
        spark, docs, f"docs 100x ({replicas} clone shards)", n_base
    )


def measure_embeddings_100x(spark, replicas: int = 100) -> dict:
    """Second scaling decade for the vector tier only: 100 clone
    shards of the sf0.1 embeddings (200k vectors) built in-plan via a
    broadcast replica-range cross join.  The doc tier is excluded on
    purpose — 100x clone groups make its candidate set quadratic in
    group size BY CORRECTNESS (every clone pair is a true pair), so
    only the vector tier has a linearity claim to test at this
    scale."""
    from pyspark.sql import functions as F

    _quiesce(spark)
    base = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    shift = SHIFTS["embeddings"]["vec_id"]
    emb = (
        base.crossJoin(
            F.broadcast(
                spark.range(replicas).select(F.col("id").alias("_r"))
            )
        )
        .withColumn("vec_id", F.col("vec_id") + F.col("_r") * F.lit(shift))
        .drop("_r")
        .localCheckpoint(eager=True)  # materialize once (~50 MB)
    )
    res = {"label": f"embeddings 100x ({replicas} clone shards)"}
    res.update(measure_vectors(spark, emb, replicas))
    return res


def _cpu_speed_probe() -> dict:
    """Fixed-size numpy workload timed at tier start: the box's
    EFFECTIVE speed at run time.  This environment is a microVM —
    host CPU steal is invisible to load averages inside the guest —
    so cross-run dispersion on an identical deterministic code path
    needs a paired measurement of the box itself to attribute.  One
    probe, one key (``cpu_probe_sec``): a serial repeated ``@`` on a
    matrix small enough that BLAS threading doesn't dominate —
    enough to price the box since the observed steal is uniform
    across cores (ADVICE r10 trimmed the claimed-but-never-shipped
    second multi-core probe)."""
    import numpy as np

    a = np.random.RandomState(0).randn(1500, 1500)
    t0 = time.monotonic()
    for _ in range(6):
        a @ a
    return {"cpu_probe_sec": round(time.monotonic() - t0, 3)}


def measure_events_100x(spark, replicas: int = 100) -> dict:
    """Second scaling decade for the CORE reference workload:
    gap-sessionization + rollup over 100 clone shards of the sf0.1
    events (10M rows, 100× the users — the id shifts preserve
    per-user session structure, so work scales with events while the
    per-key state does not grow).  One in-plan build, best-of-2
    timing (one-shot timings at this scale are dominated by the
    cold first stage)."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.sessionize import (
        session_rollup,
        sessionize,
    )
    from data_engineering_user_session_analysis_spark.sources.events import load_events

    _quiesce(spark)
    base = load_events(spark, BASE)
    shifts = SHIFTS["events"]
    ev = (
        base.crossJoin(
            F.broadcast(spark.range(replicas).select(F.col("id").alias("_r")))
        )
        .withColumn("event_id", F.col("event_id") + F.col("_r") * F.lit(shifts["event_id"]))
        .withColumn("user_id", F.col("user_id") + F.col("_r") * F.lit(shifts["user_id"]))
        .drop("_r")
        .localCheckpoint(eager=True)
    )
    res = {"label": f"events 100x ({replicas} clone shards)"}
    n = ev.count()
    res["n_events"] = n
    best = float("inf")
    rows = None
    for _ in range(2):
        t0 = time.perf_counter()
        rolled = session_rollup(sessionize(ev, order_cols=("event_id",)))
        rows = rolled.count()
        best = min(best, time.perf_counter() - t0)
    res["session_rollup_sec"] = round(best, 3)
    res["session_rollup_rows"] = rows
    res["session_events_per_sec"] = round(n / best, 1)
    return res


def _distinct_doc_corpus(spark, replicas: int):
    """200 clone shards of the sf0.1 documents with every token
    suffixed per-replica (``_r<k>``): clone-shard texts share ZERO
    shingles across replicas, so exact and near-dup dedup see 200
    independent 5k-doc corpora rather than collapsing the clones —
    each stage does real decade-scale work.  (A plain id-shift clone
    corpus would be 99.5% exact dups and the expensive stages would
    run at sf0.1 size.)"""
    from pyspark.sql import functions as F

    base = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    shift = SHIFTS["documents"]["doc_id"]
    return (
        base.crossJoin(
            F.broadcast(spark.range(replicas).select(F.col("id").alias("_r")))
        )
        .withColumn("doc_id", F.col("doc_id") + F.col("_r") * F.lit(shift))
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(t, F.lit("_r"), F.col("_r").cast("string")),
                ),
                " ",
            ),
        )
        .drop("_r")
        .repartition(max(spark.sparkContext.defaultParallelism, 32))
        .localCheckpoint(eager=True)
    )


def measure_span_dedup(spark, window: int = 15) -> dict:
    """Exact-substring span dedup (operators/span_dedup.py) at 100k
    and 1M docs: detection (`duplicated_span_stats`) at both scales
    for a 10x linearity ratio, plus the full ExactSubstr rewrite
    (`remove_duplicated_spans`) at 1M.  The clone-shard corpus keeps
    replicas window-disjoint (every token is replica-suffixed), so
    the corpus replays sf0.1's own dup-span structure 200x — work
    scales linearly by construction and the measurement isolates the
    O(tokens) hash shuffle + semi-join + per-doc window machinery at
    ~54M window rows."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.span_dedup import (
        duplicated_span_stats,
        remove_duplicated_spans,
    )

    _quiesce(spark)
    res: dict = {"label": f"exact-substring span dedup (window={window})"}
    for tag, replicas in (("100k", 20), ("1m", 200)):
        docs = _distinct_doc_corpus(spark, replicas)
        n = docs.count()
        t0 = time.monotonic()
        stats = duplicated_span_stats(docs, window=window)
        agg = stats.agg(
            F.count("*").alias("flagged"), F.sum("dup_tokens").alias("dup_toks")
        ).collect()[0]
        sec = time.monotonic() - t0
        res[f"detect_{tag}"] = {
            "n_docs": n,
            "flagged_docs": agg["flagged"],
            "dup_tokens": int(agg["dup_toks"] or 0),
            "sec": round(sec, 2),
            "docs_per_sec": round(n / sec, 1),
        }
        if tag == "1m":
            t0 = time.monotonic()
            rw = remove_duplicated_spans(docs, window=window)
            ragg = rw.agg(
                F.count("*").alias("n"),
                F.sum("n_removed_tokens").alias("removed"),
            ).collect()[0]
            rsec = time.monotonic() - t0
            res["rewrite_1m"] = {
                "n_docs": ragg["n"],
                "removed_tokens": int(ragg["removed"] or 0),
                "sec": round(rsec, 2),
                "docs_per_sec": round(ragg["n"] / rsec, 1),
            }
    d100k, d1m = res["detect_100k"], res["detect_1m"]
    res["detect_scaling_10x"] = round(d1m["sec"] / d100k["sec"], 2)
    return res


def measure_span_recall(spark, window: int = 15, replicas: int = 200) -> dict:
    """The ``sample_mod`` winnowing knob's recall curve, MEASURED at
    1M docs (VERDICT r12 #4): plant known-length shared spans into
    partner docs, run detection at sample_mod ∈ {None, 2, 4, 8}, and
    record per span-length: achieved span recall (fraction of planted
    spans with >=1 flagged anchor window in the planted region) vs
    the docstring's predicted ``1-(1-1/p)^(L-window+1)``, plus the
    token-coverage underestimate (sampled covered tokens / full
    covered tokens in the planted region).  The engine's standard
    elsewhere (LSH) is measured recall, not predicted — this
    tier brings the span family up to it."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.span_dedup import (
        _flagged_occurrences,
        positional_window_hashes,
    )

    _quiesce(spark)
    docs = _distinct_doc_corpus(spark, replicas)
    lengths = [16, 20, 24, 32, 48, 64]
    toks = F.split("text", " ")
    # sources: every doc_id % 100 == 0 with enough tokens; span =
    # first L tokens (L cycles with the source's position); partner =
    # doc_id + 1 within the same replica shard, span appended to its
    # own (token-suffixed, corpus-unique) text
    src = (
        docs.filter((F.col("doc_id") % 100 == 0) & (F.size(toks) >= 70))
        .select(
            (F.col("doc_id") + 1).alias("doc_id"),
            F.element_at(
                F.array(*[F.lit(x) for x in lengths]),
                (F.floor(F.col("doc_id") / 100) % len(lengths) + 1).cast("int"),
            ).alias("L"),
            toks.alias("_stoks"),
        )
        .select(
            "doc_id",
            "L",
            F.array_join(F.slice("_stoks", 1, F.col("L")), " ").alias("_span"),
        )
    )
    planted = (
        docs.join(src, "doc_id", "left")
        .withColumn("_nbase", F.size(toks))
        .withColumn(
            "text",
            F.when(
                F.col("_span").isNotNull(),
                F.concat_ws(" ", F.col("text"), F.col("_span")),
            ).otherwise(F.col("text")),
        )
        .drop("_span")
        .localCheckpoint(eager=True)
    )
    partner_meta = planted.filter(F.col("L").isNotNull()).select(
        "doc_id", "L", "_nbase"
    )
    n_by_L = {
        r["L"]: r["n"]
        for r in partner_meta.groupBy("L").agg(F.count("*").alias("n")).collect()
    }
    corpus = planted.drop("L", "_nbase")
    res: dict = {
        "label": "span sample_mod recall curve (1M docs, planted spans)",
        "window": window,
        "n_planted_by_L": {str(k): v for k, v in sorted(n_by_L.items())},
        "curves": {},
    }

    def _planted_region_cov(sample_mod):
        occ = _flagged_occurrences(
            positional_window_hashes(
                corpus, "text", "doc_id", window=window, sample_mod=sample_mod
            ),
            "doc_id",
            2,
        )
        region = occ.join(partner_meta, "doc_id").filter(
            F.col("pos") >= F.col("_nbase")
        )
        w = W.partitionBy("doc_id").orderBy("pos")
        delta = F.col("pos") - F.lag("pos").over(w)
        contrib = F.when(delta.isNull(), F.lit(window)).otherwise(
            F.least(delta, F.lit(window))
        )
        per_doc = (
            region.withColumn("_c", contrib)
            .groupBy("doc_id", "L")
            .agg(F.sum("_c").alias("cov"))
        )
        return {
            r["L"]: (r["n_detected"], r["cov_tokens"])
            for r in per_doc.groupBy("L")
            .agg(
                F.count("*").alias("n_detected"),
                F.sum("cov").alias("cov_tokens"),
            )
            .collect()
        }

    t0 = time.monotonic()
    full = _planted_region_cov(None)
    res["full_detect_sec"] = round(time.monotonic() - t0, 2)
    res["full_recall_check"] = {
        str(L): round(full.get(L, (0, 0))[0] / n_by_L[L], 4) for L in lengths
    }
    for p in (2, 4, 8):
        t0 = time.monotonic()
        s = _planted_region_cov(p)
        curve = {}
        for L in lengths:
            det, cov = s.get(L, (0, 0))
            fdet, fcov = full.get(L, (0, 0))
            curve[str(L)] = {
                "measured_recall": round(det / n_by_L[L], 4),
                "predicted_recall": round(
                    1 - (1 - 1 / p) ** (L - window + 1), 4
                ),
                "coverage_ratio": round(cov / fcov, 4) if fcov else None,
            }
        res["curves"][f"p{p}"] = {
            "detect_sec": round(time.monotonic() - t0, 2),
            "by_span_length": curve,
        }
        _quiesce(spark)
    return res


def measure_cc_distributed(
    spark, n_nodes: int = 32_000_000, chain: int = 16
) -> dict:
    """The distributed connected-components regime proved past its
    crossover (VERDICT r15 #4): ``connected_components`` switches from
    driver union-find to min-label propagation + pointer jumping above
    ``DRIVER_CC_MAX_EDGES`` (5M edges), and that path had never been
    scaling-measured — every bench/stress fixture sits below the
    crossover.

    Graph: disjoint chains of ``chain`` nodes over ``n_nodes`` ids —
    pure id arithmetic (deterministic, no fixture I/O), 30M edges at
    the default sizing (6x past the crossover), so the tier times the
    CC stage alone rather than an upstream pair pipeline.  Expected
    components are exactly the chain heads (``id - id % chain``), so
    parity is checked EXHAUSTIVELY with one filter-count.

    Protocol: run the tier once per core count (own JVM:
    ``SPARK_GRAFT_CPUS=8 / =32 python stress_bench.py --tier ccdist``)
    and compare ``cc_sec`` for the core-ratio claim; every timed phase
    is bracketed by its own CPU probe (r15 closing lesson: tier-level
    probe pairs cannot adjudicate a steal spike inside one phase).
    The record also carries the BELOW-crossover driver regime on a
    truncated subgraph of the same generator, timing the probe
    collection + union-find share that is bounded by the edge budget
    (``raw.limit(driver_max_edges + 1)``), not by corpus size.
    """
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.dedup import (
        DRIVER_CC_MAX_EDGES,
        connected_components,
    )

    res: dict = {
        "label": f"distributed CC past the driver crossover "
        f"({n_nodes // 1_000_000}M nodes, chains of {chain})",
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "driver_cc_max_edges": DRIVER_CC_MAX_EDGES,
    }
    pairs = (
        spark.range(n_nodes)
        .filter(F.col("id") % chain != chain - 1)
        .select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
    )
    res["n_edges"] = pairs.count()
    res["n_edges_over_crossover"] = round(
        res["n_edges"] / DRIVER_CC_MAX_EDGES, 2
    )
    # the loop width the operator derives from the measured DIRECTED
    # edge count (see connected_components: one reduce task per ~1M)
    sess_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    res["cc_loop_width"] = max(
        1, min(sess_width, 2 * res["n_edges"] // 1_000_000 + 1)
    )

    _quiesce(spark)
    res["probe_before_cc"] = _cpu_speed_probe()["cpu_probe_sec"]
    labels, res["cc_sec"] = timed(
        lambda: connected_components(pairs).localCheckpoint(eager=True)
    )
    res["probe_after_cc"] = _cpu_speed_probe()["cpu_probe_sec"]
    # exhaustive parity: every node labeled with its chain head
    wrong = labels.filter(
        F.col("component") != F.col("node") - F.col("node") % chain
    ).count()
    res["n_nodes_labeled"] = labels.count()
    res["labels_wrong"] = wrong
    res["parity_exact"] = (
        wrong == 0 and res["n_nodes_labeled"] == n_nodes
    )

    # BELOW-crossover reference on the same generator: the driver
    # regime's cost is the limit(budget+1) collection + union-find,
    # output-bounded by the edge budget regardless of upstream size.
    _quiesce(spark)
    sub_nodes = (DRIVER_CC_MAX_EDGES * chain // (chain - 1)) * 4 // 5
    sub = (
        spark.range(sub_nodes)
        .filter(F.col("id") % chain != chain - 1)
        .select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
    )
    res["driver_regime_n_edges"] = sub.count()
    res["probe_before_driver_regime"] = _cpu_speed_probe()["cpu_probe_sec"]
    dlabels, res["driver_regime_sec"] = timed(
        lambda: connected_components(sub).localCheckpoint(eager=True)
    )
    res["probe_after_driver_regime"] = _cpu_speed_probe()["cpu_probe_sec"]
    res["driver_regime_parity_exact"] = (
        dlabels.filter(
            F.col("component") != F.col("node") - F.col("node") % chain
        ).count()
        == 0
    )
    _quiesce(spark)
    return res


def measure_corpus_prep(spark, replicas: int = 200) -> dict:
    """End-to-end corpus-prep throughput one decade up (VERDICT r10
    item 4): ``prepare_corpus`` over 1M DISTINCT docs
    (``_distinct_doc_corpus``) with per-stage wall seconds, so the
    100 TB posture is a measured stage budget instead of a single
    sf0.1 docs/s number."""
    from data_engineering_user_session_analysis_spark.pipelines.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    _quiesce(spark)
    docs = _distinct_doc_corpus(spark, replicas)
    n_docs = docs.count()
    res: dict = {"label": f"corpus prep 1M ({replicas} token-suffixed clone shards)"}
    res["n_docs"] = n_docs
    stage_timings: dict[str, float] = {}
    t0 = time.monotonic()
    result, report = prepare_corpus(
        docs, config=CorpusPrepConfig(pack_budget=2048), stage_timings=stage_timings
    )
    result.write.format("noop").mode("overwrite").save()
    total = time.monotonic() - t0
    cores = spark.sparkContext.defaultParallelism
    res["report"] = report
    res["stage_sec"] = stage_timings
    res["dominant_stage"] = max(stage_timings, key=stage_timings.get)
    res["total_sec"] = round(total, 2)
    res["docs_per_sec"] = round(n_docs / total, 1)
    res["docs_per_sec_per_core"] = round(n_docs / total / cores, 2)
    return res


def measure_corpus_prep_ngram_gate(spark, replicas: int = 200) -> dict:
    """Marginal cost of the opt-in Gopher bigram-repetition gate
    (``CorpusPrepConfig.max_dup_2gram_frac``) at 1M docs: the same
    replay as the ``corpusprep1m`` tier with the gate enabled at 0.5.
    The gate adds one map-side array walk (bigram build + distinct)
    inside the already-scanned quality projection, so the honest
    claim to check is ``stage_sec.quality_filtered`` here vs the
    gate-off replay's — every later stage should only get cheaper or
    equal (fewer survivors).  Compare against the same-file
    ``corpus prep 1M`` row measured in the same round."""
    from data_engineering_user_session_analysis_spark.pipelines.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    _quiesce(spark)
    docs = _distinct_doc_corpus(spark, replicas)
    n_docs = docs.count()
    res: dict = {
        "label": f"corpus prep 1M, dup-2gram gate 0.5 ({replicas} clone shards)"
    }
    res["n_docs"] = n_docs
    stage_timings: dict[str, float] = {}
    t0 = time.monotonic()
    result, report = prepare_corpus(
        docs,
        config=CorpusPrepConfig(pack_budget=2048, max_dup_2gram_frac=0.5),
        stage_timings=stage_timings,
    )
    result.write.format("noop").mode("overwrite").save()
    total = time.monotonic() - t0
    cores = spark.sparkContext.defaultParallelism
    res["report"] = report
    res["stage_sec"] = stage_timings
    res["dominant_stage"] = max(stage_timings, key=stage_timings.get)
    res["total_sec"] = round(total, 2)
    res["docs_per_sec"] = round(n_docs / total, 1)
    res["docs_per_sec_per_core"] = round(n_docs / total / cores, 2)
    return res


def run_tier(tier: str) -> list[dict]:
    """One measurement tier in THIS process.  Tiers are designed to
    run in separate JVMs: a single long-lived session accumulates
    shuffle files, code-cache, and old-gen pressure that inflate
    later tiers 2-4× versus an isolated run (measured: q5@100x 48 s
    in-session vs 11.6 s isolated; embedding-neardup@100x 144 s vs
    61 s) — `_quiesce` between passes is not enough at decade scale.

    Every tier is probe-paired (VERDICT r10 item 6): a fixed-size CPU
    probe at tier start and end is attached to every result dict
    (``tier_cpu_probe_sec_start``/``_end``) so cross-run tier-second
    discrepancies — like r10's 204 s vs 72 s MinHash tune_sec, which
    had to be attributed to host steal by analogy — are attributable
    from the artifact alone."""
    _cpu_speed_probe()  # first-touch/BLAS warmup, discarded
    probe_start = _cpu_speed_probe()["cpu_probe_sec"]
    results = _run_tier_inner(tier)
    probe_end = _cpu_speed_probe()["cpu_probe_sec"]
    for d in results:
        d["tier_cpu_probe_sec_start"] = probe_start
        d["tier_cpu_probe_sec_end"] = probe_end
    return results


def _run_tier_inner(tier: str) -> list[dict]:
    from data_engineering_user_session_analysis_spark import get_spark

    spark = get_spark(f"stress-{tier}")
    if tier == "base":
        build(spark)
        return [measure(spark, BASE, "sf0.1")]
    if tier == "stress":
        build(spark)
        return [
            measure(
                spark, OUT, f"sf1.0 ({REPLICAS}x clone shards)", replicas=REPLICAS
            )
        ]
    if tier == "relational":
        build(spark)
        return [
            measure_relational(spark, BASE, "relational sf0.1"),
            measure_relational(
                spark, OUT, f"relational sf1.0 ({REPLICAS}x clone shards)"
            ),
        ]
    if tier == "tpch100":
        out100 = OUT + "_tpch100"
        build(spark, out=out100, replicas=100, only=tuple(TPCH_SHIFTS))
        return [
            measure_relational(spark, out100, "relational 100x (100 clone shards)")
        ]
    if tier == "emb100":
        return [measure_embeddings_100x(spark)]
    if tier == "docs100":
        build(spark)
        base_docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
        n_base = base_docs.count()
        docs10 = spark.read.parquet(os.path.join(OUT, "documents.parquet"))
        return [
            measure_docs_star(spark, base_docs, "docs star sf0.1", n_base),
            measure_docs_star(
                spark, docs10, f"docs star sf1.0 ({REPLICAS}x clone shards)", n_base
            ),
            measure_docs_100x(spark),
        ]
    if tier == "events100":
        return [measure_events_100x(spark)]
    if tier == "spanrecall1m":
        return [measure_span_recall(spark)]
    if tier == "spandedup1m":
        # round-12 (third session): the new ExactSubstr span-dedup
        # family measured at its target decade — detection linearity
        # 100k -> 1M plus the full rewrite at 1M
        return [measure_span_dedup(spark)]
    if tier == "ccdist":
        # round-16 (VERDICT r15 #4): the >5M-edge distributed CC
        # regime scaling-proved — run once per core count
        # (SPARK_GRAFT_CPUS=8 / =32) and compare cc_sec
        return [measure_cc_distributed(spark)]
    if tier == "corpusprep1m":
        # round-11: the composed LLM-pipeline throughput budget at 1M
        # docs (VERDICT r10 item 4) — per-stage seconds, probe-paired
        return [measure_corpus_prep(spark)]
    if tier == "corpusprep1mngram":
        # round-12: marginal cost of the opt-in bigram-repetition
        # gate at 1M (pair with a same-round gate-off corpusprep1m)
        return [measure_corpus_prep_ngram_gate(spark)]
    if tier == "docs1m":
        # round-9: one more doubling for the docs star tier (500k →
        # 1M docs) — edges/doc + wall-time linearity evidence
        return [measure_docs_100x(spark, replicas=200)]
    if tier == "ingest":
        build(spark)
        return [
            measure_ingest(spark, BASE, "ingest sf0.1"),
            measure_ingest(spark, OUT, f"ingest sf1.0 ({REPLICAS}x clone shards)"),
        ]
    if tier == "incsessions":
        build(spark)
        return [
            measure_incremental_sessions(spark, BASE, "incremental sessions sf0.1"),
            measure_incremental_sessions(
                spark, OUT, f"incremental sessions sf1.0 ({REPLICAS}x clone shards)"
            ),
        ]
    raise SystemExit(f"unknown tier: {tier}")


def main() -> None:
    if "--tier" in sys.argv:
        for d in run_tier(sys.argv[sys.argv.index("--tier") + 1]):
            print(json.dumps(d))
        return

    # Orchestrator: one subprocess (fresh JVM) per tier, stdout JSON
    # lines collected and re-emitted, then the cross-tier summary.
    import subprocess

    tiers = ["base", "stress", "relational"]
    if "--ingest" in sys.argv or os.environ.get("SPARK_GRAFT_INGEST_STRESS"):
        tiers.append("ingest")
    if "--incsessions" in sys.argv or os.environ.get("SPARK_GRAFT_INCSESSIONS"):
        tiers.append("incsessions")
    if "--tpch-100x" in sys.argv or os.environ.get("SPARK_GRAFT_TPCH_100X"):
        tiers.append("tpch100")
    if "--emb-100x" in sys.argv or os.environ.get("SPARK_GRAFT_EMB_100X"):
        tiers.append("emb100")
    if "--docs-100x" in sys.argv or os.environ.get("SPARK_GRAFT_DOCS_100X"):
        tiers.append("docs100")
    if "--events-100x" in sys.argv or os.environ.get("SPARK_GRAFT_EVENTS_100X"):
        tiers.append("events100")

    me = os.path.abspath(__file__)
    results: dict[str, list[dict]] = {}
    for tier in tiers:
        proc = subprocess.run(
            [sys.executable, me, "--tier", tier], capture_output=True, text=True
        )
        if proc.returncode != 0:
            print(
                f"WARN: tier {tier} failed rc={proc.returncode}:\n"
                f"{proc.stderr[-2000:]}",
                file=sys.stderr,
            )
            continue
        docs = []
        for line in proc.stdout.splitlines():
            line = line.strip()
            if line.startswith("{"):
                try:
                    docs.append(json.loads(line))
                except json.JSONDecodeError:
                    pass
        results[tier] = docs
        for d in docs:
            print(json.dumps(d), flush=True)

    def _tier(name: str, n: int = 1) -> list:
        # pad/slice to exactly n: a tier subprocess that exits 0 but
        # emits a different number of parseable JSON lines (e.g. one
        # line corrupted by interleaved stdout) must not crash the
        # orchestrator after every tier already ran.
        docs = (results.get(name) or []) + [None] * n
        if len(docs) > n and docs[n] is not None:
            print(
                f"WARN: tier {name} emitted extra JSON docs; keeping first {n}",
                file=sys.stderr,
            )
        return docs[:n]

    base = _tier("base")[0]
    stress = _tier("stress")[0]
    if base is None or stress is None:
        print("WARN: base/stress tier missing — no summary", file=sys.stderr)
        return
    rel_base, rel_stress = _tier("relational", 2)
    rel100 = _tier("tpch100")[0]
    emb100 = _tier("emb100")[0]
    ev100 = _tier("events100")[0]
    ing_base, ing_stress = _tier("ingest", 2)

    def ratio(k: str) -> float | None:
        try:
            return round(stress[k] / base[k], 2) if base[k] else None
        except (KeyError, ZeroDivisionError, TypeError):
            return None

    summary = {
        "metric": "stress_scaling_10x",
        "replicas": REPLICAS,
        "ratios": {
            k: ratio(k)
            for k in (
                "session_rollup_sec",
                "minhash_candidates",
                "minhash_pairs_sec",
                "simhash_value_candidates",
                "simhash_pairs_sec",
                "lsh_candidates",
                "embedding_neardup_sec",
                "corpus_prep_docs_per_sec",
            )
        },
        "base": base,
        "stress": stress,
    }
    if emb100 is not None:
        # two-decade linearity check: RANDOM-candidate load per vector
        # (total candidates minus the true clone-pair mass, which
        # grows quadratically in clone-group size BY CORRECTNESS —
        # every clone pair is a true near-dup) should stay ~flat at
        # the sizing law's budget from 2k -> 20k -> 200k vectors.
        def _rand_per_vec(r: dict) -> float:
            rand = r["lsh_candidates"] - r.get("clone_true_pairs", 0)
            return round(rand / r["n_vectors"], 2)

        summary["emb_100x"] = {
            "random_candidates_per_vector": {
                "base": _rand_per_vec(base),
                "10x": _rand_per_vec(stress),
                "100x": _rand_per_vec(emb100),
            },
            "candidate_to_pair_ratio_100x": emb100["lsh_candidate_to_pair_ratio"],
            "clone_pair_recall_100x": emb100["clone_pair_recall"],
            "allpairs_100x": emb100.get("embedding_neardup_pairs"),
            "allpairs_sec_100x": emb100.get("embedding_neardup_sec"),
        }
    def _sec_ratios(hi: dict, lo: dict) -> dict:
        return {
            k.removesuffix("_sec"): round(hi[k] / lo[k], 2)
            for k in hi
            if k.endswith("_sec") and lo.get(k)
        }

    if rel_base is not None and rel_stress is not None:
        summary["relational"] = {
            "base": rel_base,
            "stress": rel_stress,
            "sec_ratios_10x": _sec_ratios(rel_stress, rel_base),
        }
        if rel100 is not None:
            summary["relational"]["stress_100x"] = rel100
            summary["relational"]["sec_ratios_100x"] = _sec_ratios(rel100, rel_base)
    inc_base, inc_stress = _tier("incsessions", 2)
    if inc_base is not None and inc_stress is not None:
        summary["incremental_sessions"] = {
            "base_sec_per_day": inc_base["sec_per_day"],
            "stress_sec_per_day": inc_stress["sec_per_day"],
            "base_events_per_sec": inc_base["events_per_sec"],
            "stress_events_per_sec": inc_stress["events_per_sec"],
        }
    if ing_base is not None and ing_stress is not None:
        summary["ingest"] = {
            "base_events_per_sec": ing_base["ingest_events_per_sec"],
            "stress_events_per_sec": ing_stress["ingest_events_per_sec"],
            "throughput_ratio_10x": (
                round(
                    ing_stress["ingest_events_per_sec"]
                    / ing_base["ingest_events_per_sec"],
                    2,
                )
                if ing_base["ingest_events_per_sec"]
                else None
            ),
        }
    docs_star = _tier("docs100", 3)
    if all(d is not None for d in docs_star):
        d_base, d_10, d_100 = docs_star
        summary["docs_star"] = {
            # linearity check: edges per doc ~flat across three decades
            # while the all-pairs lower bound explodes quadratically
            "edges_per_doc": {
                "base": d_base["edges_per_doc"],
                "10x": d_10["edges_per_doc"],
                "100x": d_100["edges_per_doc"],
            },
            "edges_100x": d_100["dedup_edges"],
            "allpairs_clone_pairs_lower_bound_100x": d_100[
                "allpairs_clone_pairs_lower_bound"
            ],
            "dedup_edges_sec": {
                "base": d_base["dedup_edges_sec"],
                "10x": d_10["dedup_edges_sec"],
                "100x": d_100["dedup_edges_sec"],
            },
        }
    if ev100 is not None:
        summary["events_100x"] = {
            "n_events": ev100["n_events"],
            "session_rollup_sec": ev100["session_rollup_sec"],
            "session_events_per_sec": ev100["session_events_per_sec"],
        }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
