"""Persistent MinHash / vector-LSH indexes for INCREMENTAL near-dup
detection.

At corpus scale, dedup is not a one-shot batch job: shards arrive
daily, and re-running pair detection over the full corpus per shard
is O(corpus) every day.  The standard operational pattern — used
here — persists the LSH state once and probes it per increment:

* ``write_minhash_index`` — one batch pass over the corpus writing
  two partition-friendly parquet tables: ``buckets/`` (band, bucket,
  doc id — the LSH probe surface) and ``sets/`` (doc id, distinct
  shingle array — the exact-verify surface).  Both are plain
  columnar tables: bucket probes prune on the (band, bucket) join
  keys, and the sets table is only ever joined by doc id for
  candidates, never scanned whole.
* ``incremental_neardup_pairs`` — shingle/sign the NEW shard only,
  probe the stored buckets for new-vs-corpus candidates, self-join
  the shard's buckets for new-vs-new, then exact-verify both
  candidate classes against the stored + fresh shingle sets.  Cost
  is O(shard + matched candidates), independent of corpus size.
* ``append_to_minhash_index`` — after a shard is deduped, append its
  buckets/sets so the next increment sees it.

The banding, hashing, and verification are the SAME functions the
batch path uses (`operators/dedup.py`), so incremental output is
bit-identical to what a full-corpus batch run would emit for the
same pairs — pinned by test: incremental pairs == batch pairs
restricted to pairs touching the new shard.

The EMBEDDING twin (`write_vector_index` / `append_to_vector_index`
/ `incremental_vector_neardup`) persists the hyperplane-LSH bucket
table and the vectors+norms; because the hyperplanes are
deterministic (md5-derived, `operators/vector_lsh.py`), a probe
shard's signatures land in the same buckets the corpus run produced
— no weights file travels with the index.  Same equality pin vs the
batch path.

This module is a library: no ``job`` verb and no step of the daily
session pipeline calls it.  A caller that keeps a document or
embedding shard per day drives the ``append_shard_*`` /
``incremental_*`` pair itself.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.dedup import (
    minhash_signatures,
    shingle_docs,
)

# Directory-lifecycle mechanics shared by both families (params IO,
# day markers, truth cache, rebuild staging/swap) live in
# operators/index_lifecycle.py (VERDICT r11 #5); the private-name
# aliases keep this module's long-standing import surface stable.
from data_engineering_user_session_analysis_spark.operators.index_lifecycle import (
    append_day_shard,
    begin_rebuild,
    commit_rebuild,
    complete_days_only,
    incremental_candidates,
    marker_complete_days as _marker_complete_days,
    md5_sample,
    pre_complete_days,
    preserve_truth_cache as _preserve_truth_cache,
    read_params,
    recall_sensor_score,
    restore_day_markers,
    retract_day_marker as _retract_day_marker,
    scope_index_days,
    shard_indexed,
    truth_cache_lookup as _truth_cache_lookup,
    write_params,
)

_BANDS = 16
_ROWS_PER_BAND = 4


def _bucket_table(
    shingles: DataFrame,
    id_col: str,
    bands: int = _BANDS,
    rows_per_band: int = _ROWS_PER_BAND,
) -> DataFrame:
    """(id, band, bucket) rows — the probe surface; identical
    construction to ``minhash_candidate_pairs`` at the default
    geometry, parameterized since round 10 so the recall actuator can
    re-band an index (``rebuild_minhash_index``)."""
    sig = minhash_signatures(shingles, bands * rows_per_band, id_col)
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, "e.band", "e.bucket"
    )


def _write_minhash_params(
    spark, path: str, bands: int, rows_per_band: int, n: int
) -> None:
    """Text-family geometry freeze (``index_lifecycle.write_params``):
    a shard shingled at a different ``n`` has disjoint shingle sets,
    different banding a disjoint bucket space; both silently never
    match."""
    write_params(
        spark,
        path,
        {"bands": int(bands), "rows_per_band": int(rows_per_band), "n": int(n)},
        "bands int, rows_per_band int, n int",
    )


def _read_minhash_params(spark, path: str) -> "dict | None":
    r = read_params(spark, path)
    if r is None:
        return None
    return {
        "bands": int(r["bands"]),
        "rows_per_band": int(r["rows_per_band"]),
        "n": int(r["n"]),
    }


def _set_table(shingles: DataFrame, id_col: str) -> DataFrame:
    return shingles.groupBy(id_col).agg(
        F.collect_list("shingle").alias("sh_set")
    )


def _verify_pairs_from_sets(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidates from
    shingle-SET tables: candidate-bounded (two id-equi joins + one
    array intersect per candidate), never a shingle self-join."""
    return (
        candidates.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("long")
            .alias("intersection"),
            F.size("set_a").alias("na"),
            F.size("set_b").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("na") + F.col("nb") - F.col("intersection")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "jaccard")
    )


def write_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = _BANDS,
    rows_per_band: int = _ROWS_PER_BAND,
) -> None:
    """Build the persistent index from a corpus batch (one shingle
    pass feeds both tables).  The geometry (bands, rows_per_band) and
    the shingle ``n`` are FROZEN in ``params/`` (written first) —
    every later append and probe reads them back, so a caller-default
    mismatch can never split the index into disjoint shingle/bucket
    spaces."""
    _write_minhash_params(docs.sparkSession, path, bands, rows_per_band, n)
    sh = shingle_docs(docs, text_col, id_col, n).cache()
    _bucket_table(sh, id_col, bands, rows_per_band).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "buckets"))
    _set_table(sh, id_col).write.mode("overwrite").parquet(
        os.path.join(path, "sets")
    )
    sh.unpersist()


def append_to_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Append a (deduped) shard to the index so later increments see
    it.  Parquet append — no rewrite of existing index files.  The
    stored ``params/`` geometry and shingle ``n`` always win over the
    caller's defaults (legacy indexes without params keep the module
    defaults — unchanged behavior)."""
    stored = _read_minhash_params(docs.sparkSession, path)
    bands, rows, n = (
        (stored["bands"], stored["rows_per_band"], stored["n"])
        if stored is not None
        else (_BANDS, _ROWS_PER_BAND, n)
    )
    sh = shingle_docs(docs, text_col, id_col, n).cache()
    _bucket_table(sh, id_col, bands, rows).write.mode("append").parquet(
        os.path.join(path, "buckets")
    )
    _set_table(sh, id_col).write.mode("append").parquet(
        os.path.join(path, "sets")
    )
    sh.unpersist()


def append_shard_to_minhash_index(
    docs: DataFrame,
    path: str,
    ds: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Idempotent per-day variant of ``append_to_minhash_index``: the
    shard's contribution lands under ``buckets/ds=<ds>`` and
    ``sets/ds=<ds>`` (overwrite), so re-running a day replaces
    exactly its own index rows instead of appending duplicates.
    Readers load the table roots; Hive partition discovery surfaces
    ``ds`` as a column, which `incremental_neardup_pairs` uses to
    probe only PRIOR days (``before_ds``).

    Write order is crash-safe: ``sets`` lands BEFORE ``buckets``,
    and the bucket dir's ``_SUCCESS`` marker is the day's presence
    signal (``shard_indexed``).  A crash between the writes leaves
    sets-only — the day generates no candidates (buckets absent) and
    a re-run overwrites both, so a partial write can never yield
    verified-against-nothing silent misses; the reverse order could
    (bucket candidates whose shingle sets don't exist join to
    nothing).  On a RE-RUN the previous run's marker is retracted
    FIRST (the buckets dir is deleted before anything is rewritten):
    otherwise a crash between the new sets write and the new buckets
    write would leave the OLD ``_SUCCESS`` standing over mismatched
    sets/buckets — a day that probes as complete but whose candidates
    verify against the wrong shingle sets.

    Geometry: an existing index's stored ``params/`` always wins; the
    FIRST shard creates the index and freezes the module defaults
    plus the caller's ``n`` (same contract as the vector twin)."""
    stored = _read_minhash_params(docs.sparkSession, path)
    if stored is not None:
        bands, rows = stored["bands"], stored["rows_per_band"]
        n = stored["n"]
    else:
        bands, rows = _BANDS, _ROWS_PER_BAND
        _write_minhash_params(docs.sparkSession, path, bands, rows, n)
    sh = shingle_docs(docs, text_col, id_col, n).cache()
    append_day_shard(
        path, ds, "sets", _set_table(sh, id_col),
        _bucket_table(sh, id_col, bands, rows),
    )
    sh.unpersist()


def incremental_neardup_pairs(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    before_ds: str | None = None,
    only_ds: "list[str] | None" = None,
) -> DataFrame:
    """Near-dup pairs touching the new shard: (doc_a, doc_b,
    intersection, jaccard) where doc_b is a NEW doc and doc_a is
    either a corpus doc (probe hit) or an earlier new doc
    (shard self-join).  ``doc_a < doc_b`` within the shard; corpus
    hits keep (corpus_id, new_id) orientation.

    Plan shape: the shard's buckets join the stored buckets on
    (band, bucket) — an equi-join that prunes to matching buckets —
    and only candidates' shingle sets are fetched from ``sets/`` by
    id.  Nothing scans the corpus text.

    ``before_ds``: when the index uses the ds-partitioned layout
    (`append_shard_to_minhash_index`), probe only partitions with
    ``ds < before_ds`` — partition-pruned at the scan, and what makes
    a re-run of day N idempotent (it must not see its own rows).

    ``only_ds``: restrict the probe to an explicit COMPLETE-day set
    (``shard_indexed`` days).  A crashed prior-day write leaves a
    partial partition (sets without buckets, or uncommitted bucket
    files) that a bare ``ds < before_ds`` range would still scan —
    contributing nothing or partial candidates, a silent recall hole
    until that day reruns.  Pass the `_SUCCESS`-verified day list
    (``complete_days_only``) so incomplete days are excluded by an
    isin partition filter, not trusted to be absent.
    """
    # the shard must shingle and band with the BUILD's stored
    # geometry — a different n gives disjoint shingle sets, different
    # banding a disjoint bucket space (stored params always win;
    # legacy indexes keep the module defaults + caller n)
    stored = _read_minhash_params(spark, path)
    bands, rows = _BANDS, _ROWS_PER_BAND
    if stored is not None:
        bands, rows, n = stored["bands"], stored["rows_per_band"], stored["n"]
    # cache lifecycle: consumed by the CALLER's action (the returned
    # pairs are lazy), so the entry outlives this function — it is
    # SHARD-scale (the daily increment, not the corpus), plan-keyed,
    # and LRU-evictable.
    sh_new = shingle_docs(new_docs, text_col, id_col, n).cache()
    b_new = _bucket_table(sh_new, id_col, bands, rows)
    s_new = _set_table(sh_new, id_col)

    # legacy flat-append layout cannot honor before_ds/only_ds —
    # silently probing the caller's own appended rows would self-hit
    # every shard doc at jaccard 1.0 and drop the whole day
    b_old, s_old = scope_index_days(
        [
            spark.read.parquet(os.path.join(path, "buckets")),
            spark.read.parquet(os.path.join(path, "sets")),
        ],
        before_ds,
        only_ds,
        "before_ds/only_ds require the ds-partitioned index layout "
        "(append_shard_to_minhash_index); this index was built "
        "with the flat append_to_minhash_index layout",
    )

    cand = incremental_candidates(
        b_old, b_new, id_col, "doc_a", "doc_b", ["band", "bucket"]
    )
    sets_a = s_old.unionByName(s_new).select(
        F.col(id_col).alias("doc_a"), F.col("sh_set").alias("set_a")
    )
    sets_b = s_new.select(
        F.col(id_col).alias("doc_b"), F.col("sh_set").alias("set_b")
    )
    return _verify_pairs_from_sets(cand, sets_a, sets_b, threshold)


# ----------------------------------------------------------------- #
# Embedding twin: persistent hyperplane-LSH index                    #
# ----------------------------------------------------------------- #

_DIM = 64
_TABLES = 8
_PLANES = 4


def vector_index_geometry(target_n: int, dim: int = _DIM) -> dict:
    """Size the index's frozen LSH geometry for a TARGET corpus — the
    persistent-index twin of the one-shot tier's ``lsh_params``
    scale-aware sizing.  A hyperplane index freezes (tables, planes)
    at creation (signatures are only joinable within one geometry),
    so the budget math must run against the corpus the index will
    GROW INTO, not the first shard: with fixed planes, random-pair
    candidates grow as shard·N·tables/2^planes — LINEAR in the
    indexed corpus (measured: the 12-day replay's probe cost rose
    3.7× over 11× growth at the legacy planes=4 before this sizing
    existed, STRESS r08).  Each extra plane halves the candidate
    load and costs one bit per signature, so over-provisioning is
    cheap; ``lsh_params``'s fixpoint picks planes from the candidate
    budget at ``target_n`` and tables from the near-dup recall
    target.  Returns ``{"dim", "tables", "planes",
    "predicted_recall_at_threshold", ...}`` (the lsh_params
    predictions ride along for the caller's logs)."""
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import lsh_params

    p = lsh_params(max(int(target_n), 2))
    return {"dim": dim, "tables": p["tables"], "planes": p["planes"], **{
        k: v for k, v in p.items() if k not in ("tables", "planes")
    }}


def _write_vector_params(
    spark, path: str, dim: int, tables: int, planes: int,
    target_n: "int | None" = None,
) -> None:
    """Vector-family geometry freeze (``index_lifecycle.write_params``);
    ``target_n`` (when the geometry was sized) rides along as the
    design point the outgrown check compares against."""
    write_params(
        spark,
        path,
        {"dim": dim, "tables": tables, "planes": planes,
         "target_n": int(target_n) if target_n is not None else None},
        "dim int, tables int, planes int, target_n bigint",
    )


def _read_vector_params(spark, path: str) -> "dict | None":
    """``target_n`` is None for params written before the design
    point was recorded."""
    r = read_params(spark, path)
    if r is None:
        return None
    return {
        "dim": int(r["dim"]),
        "tables": int(r["tables"]),
        "planes": int(r["planes"]),
        "target_n": int(r["target_n"])
        if "target_n" in r.__fields__ and r["target_n"] is not None
        else None,
    }


def vector_index_outgrown(spark, path: str, margin: float = 1.0) -> dict:
    """The vector index's staleness twin: has the indexed corpus
    grown past the design point its geometry was sized for?  A
    fixed-geometry index degrades SILENTLY — probes keep returning
    correct verified pairs while the random-candidate load (and so
    probe cost) grows linearly past ``target_n`` — so the signal
    must come from an explicit check, not from wrong results.  One
    column-pruned count over ``vectors/`` vs the stored design
    point; ``outgrown=True`` when ``indexed_n > target_n · margin``.
    The operational answer is ``rebuild_vector_index`` with a new
    target.
    ``target_n`` is None (check disabled) for legacy/fixture indexes
    that never declared a design point."""
    stored = _read_vector_params(spark, path)
    target = stored.get("target_n") if stored else None
    n = spark.read.parquet(os.path.join(path, "vectors")).count()
    return {
        "indexed_n": n,
        "target_n": target,
        "outgrown": (n > target * margin) if target else None,
    }


def _vector_bucket_table(
    emb: DataFrame, id_col: str, vec_col: str, dim: int, tables: int, planes: int
) -> DataFrame:
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import signature_column

    return emb.select(
        F.col(id_col),
        F.posexplode(signature_column(vec_col, dim, tables, planes)).alias(
            "t", "sig"
        ),
    )


def _vector_norm_table(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from data_engineering_user_session_analysis_spark.queries.similarity_queries import dot_double

    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(dot_double(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    )


def write_vector_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _DIM,
    tables: int = _TABLES,
    planes: int = _PLANES,
    mode: str = "overwrite",
    target_n: "int | None" = None,
) -> None:
    """Persist the hyperplane-LSH probe surface (id, table, sig) and
    the vectors+norms for exact verification.  The hyperplanes are
    md5-deterministic, so no weights accompany the index — but the
    GEOMETRY does (``params/``, written first): appends and probes
    bucket with the stored (dim, tables, planes), never their own
    defaults.  ``target_n`` sizes the geometry for the corpus the
    index will grow into (``vector_index_geometry``); without it the
    module defaults apply (fixture scale — a production index should
    always pass its growth target)."""
    if target_n is not None:
        g = vector_index_geometry(target_n, dim)
        dim, tables, planes = g["dim"], g["tables"], g["planes"]
    spark = emb.sparkSession
    if mode == "append":
        stored = _read_vector_params(spark, path)
        if stored is not None:
            dim, tables, planes = stored["dim"], stored["tables"], stored["planes"]
        else:
            # first write into a fresh path via append: the geometry used
            # here must be the one every later append/probe reads back —
            # without this, a target_n-sized first append buckets in one
            # signature space while later calls fall back to module
            # defaults and silently never match (ADVICE r8)
            _write_vector_params(spark, path, dim, tables, planes, target_n)
    else:
        _write_vector_params(spark, path, dim, tables, planes, target_n)
    _vector_bucket_table(emb, id_col, vec_col, dim, tables, planes).write.mode(
        mode
    ).parquet(os.path.join(path, "buckets"))
    _vector_norm_table(emb, id_col, vec_col).write.mode(mode).parquet(
        os.path.join(path, "vectors")
    )


def append_to_vector_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _DIM,
    tables: int = _TABLES,
    planes: int = _PLANES,
) -> None:
    """Legacy one-shot append — MUST be exactly-once (a retry
    double-appends).  Daily pipelines use the idempotent
    ``append_shard_to_vector_index`` instead."""
    write_vector_index(
        emb, path, id_col, vec_col, dim, tables, planes, mode="append"
    )


def append_shard_to_vector_index(
    emb: DataFrame,
    path: str,
    ds: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _DIM,
    tables: int = _TABLES,
    planes: int = _PLANES,
    target_n: "int | None" = None,
) -> None:
    """Idempotent per-day variant of ``append_to_vector_index`` — the
    embedding twin of ``append_shard_to_minhash_index``: the shard
    lands under ``buckets/ds=<ds>`` and ``vectors/ds=<ds>`` with
    OVERWRITE, so a retried or re-run day replaces exactly its own
    rows.  Write order is crash-safe in the same sense: the previous
    run's marker is retracted first (see ``_retract_day_marker``),
    then ``vectors`` (the exact-verify surface) lands BEFORE
    ``buckets`` (the candidate surface), and the bucket dir's
    ``_SUCCESS`` marker is the day's presence signal
    (``vector_shard_indexed``) — a crash anywhere leaves a day that
    reads as incomplete and gets rebuilt by its re-run, never
    candidates that verify against missing or mismatched vectors.

    Geometry: an EXISTING index's stored ``params/`` always wins (a
    shard bucketed with different planes would live in a disjoint
    signature space and never match).  The FIRST shard creates the
    index and freezes the geometry — from ``target_n``
    (``vector_index_geometry``) when given, else the module-default
    fixture geometry."""
    stored = _read_vector_params(emb.sparkSession, path)
    if stored is not None:
        dim, tables, planes = stored["dim"], stored["tables"], stored["planes"]
    else:
        if target_n is not None:
            g = vector_index_geometry(target_n, dim)
            dim, tables, planes = g["dim"], g["tables"], g["planes"]
        _write_vector_params(emb.sparkSession, path, dim, tables, planes, target_n)
    append_day_shard(
        path, ds, "vectors", _vector_norm_table(emb, id_col, vec_col),
        _vector_bucket_table(emb, id_col, vec_col, dim, tables, planes),
    )


# the two index families share one completeness convention: the
# day's bucket-partition _SUCCESS marker, written last
vector_shard_indexed = shard_indexed


def rebuild_vector_index(
    spark: SparkSession,
    path: str,
    target_n: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    geometry: "dict | None" = None,
) -> dict:
    """Re-bucket the ENTIRE index under a geometry sized for
    ``target_n`` — the operational answer when the corpus outgrows
    the geometry it was frozen with: with fixed planes the
    random-candidate load per probe grows as N/2^planes, so an index
    that blew past its creation-time ``target_n`` pays linearly
    growing probes until it is re-bucketed.  Signatures are deterministic functions of
    (vector, geometry), so the rebuild recomputes every bucket row
    from the stored vectors — no re-ingestion.

    Layout-preserving: a ds-partitioned index keeps its per-day
    ``vectors/ds=*`` shards and gets per-day bucket partitions with
    their ``_SUCCESS`` completeness markers restored — but only for
    days that were marker-complete in the PRE-rebuild index, so a
    previously crashed, partially-written day stays invisible to
    probes until its own re-run (the per-day probe/idempotence
    contract survives the rebuild); a flat legacy index stays flat.
    The stored ``dim`` is preserved (it defines the hash family and
    the vectors' shape); only (tables, planes) are re-sized.

    Crash safety: the rebuild lands in ``<path>.rebuild`` and is
    swapped in with two renames — a probe racing the rename window
    can miss the index, so run it single-writer with no concurrent
    probes.
    Returns ``{"n_vectors", "geometry", "layout"}``.

    ``geometry`` (``{"tables": T, "planes": b}``) overrides the
    target_n-derived sizing with EXPLICIT knobs — the recall-actuator
    path (``vector_index_recall_autotune``), whose geometry comes
    from the inverse banding solve at a measured breach, not from the
    candidate-budget growth rule.  The stored ``target_n`` design
    point is preserved (or updated when ``target_n`` is also given)
    so the outgrown alarm keeps its meaning."""
    stored = _read_vector_params(spark, path)
    # the stored dim is part of the index's identity (signature_column's
    # matmul shape and the hash family both depend on it) — a rebuild
    # re-buckets under new (tables, planes) but must never change dim
    dim = stored["dim"] if stored is not None else _DIM
    if geometry is not None:
        g = {"dim": dim, "tables": int(geometry["tables"]),
             "planes": int(geometry["planes"])}
        if target_n is None and stored is not None:
            target_n = stored.get("target_n")
    elif target_n is not None:
        g = vector_index_geometry(target_n, dim=dim)
    else:
        raise ValueError("rebuild_vector_index needs target_n or geometry")
    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    layout = "ds" if "ds" in vecs.columns else "flat"
    tmp = begin_rebuild(path)
    _write_vector_params(spark, tmp, g["dim"], g["tables"], g["planes"], target_n)
    n = vecs.count()
    if layout == "ds":
        # vectors copied shard-for-shard, buckets recomputed per day in
        # ONE partitioned job each; per-day _SUCCESS markers restored
        # for pre-complete days only (index_lifecycle — ADVICE r8)
        pre_complete = pre_complete_days(path)
        vecs.write.mode("overwrite").partitionBy("ds").parquet(
            os.path.join(tmp, "vectors")
        )
        from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
            signature_column,
        )

        (
            vecs.select(
                F.col(id_col),
                F.col("ds"),
                F.posexplode(
                    signature_column(vec_col, g["dim"], g["tables"], g["planes"])
                ).alias("t", "sig"),
            )
            .write.mode("overwrite")
            .partitionBy("ds")
            .parquet(os.path.join(tmp, "buckets"))
        )
        restore_day_markers(tmp, pre_complete)
    else:
        vecs.write.mode("overwrite").parquet(os.path.join(tmp, "vectors"))
        _vector_bucket_table(
            vecs.drop("nrm"), id_col, vec_col, g["dim"], g["tables"], g["planes"]
        ).write.mode("overwrite").parquet(os.path.join(tmp, "buckets"))
    commit_rebuild(path, tmp)
    return {
        "n_vectors": n,
        "geometry": {"dim": g["dim"], "tables": g["tables"], "planes": g["planes"]},
        "layout": layout,
    }


def incremental_vector_neardup(
    spark: SparkSession,
    new_emb: DataFrame,
    path: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _DIM,
    tables: int = _TABLES,
    planes: int = _PLANES,
    before_ds: str | None = None,
    only_ds: "list[str] | None" = None,
) -> DataFrame:
    """Cosine near-dup pairs touching the new shard: corpus hits via
    the stored bucket probe, intra-shard hits via self-join, exact
    cosine verification for both (precision 1.0) — O(shard +
    candidates), never O(corpus).

    ``before_ds`` / ``only_ds``: same contract as
    ``incremental_neardup_pairs`` — with the ds-partitioned layout
    (`append_shard_to_vector_index`), probe only prior days and only
    ``_SUCCESS``-complete ones."""
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import foldl_dot_column

    stored = _read_vector_params(spark, path)
    if stored is not None:
        # probe with the BUILD's geometry — the new shard's signatures
        # must live in the same space as the stored buckets
        dim, tables, planes = stored["dim"], stored["tables"], stored["planes"]
    # shard-scale cache, caller-consumed — same lifecycle note as
    # incremental_neardup_pairs above.
    b_new = _vector_bucket_table(
        new_emb, id_col, vec_col, dim, tables, planes
    ).cache()
    v_new = _vector_norm_table(new_emb, id_col, vec_col)
    b_old, v_old = scope_index_days(
        [
            spark.read.parquet(os.path.join(path, "buckets")),
            spark.read.parquet(os.path.join(path, "vectors")),
        ],
        before_ds,
        only_ds,
        "before_ds/only_ds require the ds-partitioned index layout "
        "(append_shard_to_vector_index); this index was built with "
        "the flat write/append layout",
    )

    cand = incremental_candidates(
        b_old, b_new, id_col, "vec_a", "vec_b", ["t", "sig"]
    )
    va = v_old.unionByName(v_new).select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = v_new.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine", foldl_dot_column("ea", "eb") / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def vector_index_recall_sample(
    spark: SparkSession,
    path: str,
    threshold: float = 0.85,
    sample_q: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "recall",
) -> dict:
    """Measured near-dup recall of the persistent vector index on a
    deterministic exact sample.  The index's recall today is
    stated two ways, both indirect: the sizing rule's
    ``predicted_recall_at_threshold`` (a banding-model closed form)
    and planted-clone recovery pins (clones share signatures and
    recall 1.0 structurally).  Neither measures recall at a NON-clone
    cosine on the operator's actual corpus; this verb does, and puts
    the prediction next to the measurement.

    Sample: the ``sample_q`` indexed vectors with the smallest
    ``md5(id:salt)``.  Truth: ONE corpus pass — broadcast sample
    against the stored ``vectors/`` table (Arrow fold dot over the
    precomputed norms), every pair with cosine ≥ ``threshold``.
    Found: the sample bucketed with the STORED geometry and joined
    against the stored ``buckets/`` — the exact candidate step the
    production probe runs (its cosine verification gives precision
    1.0, so candidate ∧ true IS retrieved).  Both sides stay
    DISTRIBUTED — above-threshold truth sets are clone-group-sized,
    so unlike the top-k verbs nothing pair-shaped ever collects; the
    driver sees counts plus one (n_true, n_found) row per sampled
    query (bounded by ``sample_q``).

    Returns ``{n_vectors, sample_q, threshold, tables, planes,
    predicted_recall_at_threshold, true_pairs, found_pairs,
    recall_at_threshold, min_query_recall, probe_sec}`` —
    ``min_query_recall`` is the per-query tail (the pair-weighted
    overall hides a query whose whole neighborhood was missed).
    ``recall_at_threshold`` is None when the sample has no true
    pairs at the threshold (raise ``sample_q`` or lower
    ``threshold`` rather than trusting a vacuous 1.0).

    Under the ``ds=`` layout both the truth and the candidate scans
    are restricted to MARKER-COMPLETE days (``_marker_complete_days``)
    — the view the production daily probe consults.  Without the
    restriction a crashed day's vectors (written before its buckets)
    would enter the truth while being structurally unfindable,
    deflating measured recall until that day re-runs (ADVICE r09)."""
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        foldl_dot_column,
    )

    if sample_q < 1:
        raise ValueError(f"sample_q must be >= 1, got {sample_q}")
    if not -1.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (-1, 1], got {threshold}")
    stored = _read_vector_params(spark, path)
    dim, tables, planes = (
        (stored["dim"], stored["tables"], stored["planes"])
        if stored is not None
        else (_DIM, _TABLES, _PLANES)
    )
    vec = complete_days_only(
        spark.read.parquet(os.path.join(path, "vectors")), path
    ).filter(F.col("nrm") > 0)
    n = vec.count()
    queries = (
        md5_sample(vec, id_col, salt, sample_q)
        .select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
        .localCheckpoint(eager=True)
    )

    # exact truth is the sensor's expensive pass (a sample×corpus
    # cosine scan) and depends only on the stored vectors — the
    # shared core caches it under the index keyed by corpus content
    # + sensor params (index_lifecycle.recall_sensor_score)
    def _truth():
        return (
            F.broadcast(queries)
            .crossJoin(
                vec.select(
                    F.col(id_col).alias("other_id"),
                    F.col(vec_col).alias("o_emb"),
                    F.col("nrm").alias("o_nrm"),
                )
            )
            .filter(F.col("other_id") != F.col("q_id"))
            .withColumn(
                "cosine",
                foldl_dot_column("q_emb", "o_emb")
                / (F.col("q_nrm") * F.col("o_nrm")),
            )
            .filter(F.col("cosine") >= threshold)
            .select("q_id", "other_id")
        )

    def _cand():
        q_buckets = _vector_bucket_table(
            queries.select(
                F.col("q_id").alias(id_col), F.col("q_emb").alias(vec_col)
            ),
            id_col, vec_col, dim, tables, planes,
        ).select(F.col(id_col).alias("q_id"), "t", "sig")
        # same marker-complete scope as the truth scan
        buckets = complete_days_only(
            spark.read.parquet(os.path.join(path, "buckets")), path
        )
        return (
            F.broadcast(q_buckets)
            .join(
                buckets.select(F.col(id_col).alias("other_id"), "t", "sig"),
                ["t", "sig"],
            )
            .filter(F.col("other_id") != F.col("q_id"))
            .select("q_id", "other_id")
            .distinct()
        )

    score = recall_sensor_score(
        spark, path, "vector",
        vec.select(F.col(id_col), F.col(vec_col)), id_col, vec_col,
        n, (threshold, sample_q, salt, id_col), _truth, _cand,
    )
    p_thr = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    return {
        "n_vectors": n,
        "sample_q": queries.count(),
        "threshold": threshold,
        "tables": tables,
        "planes": planes,
        "predicted_recall_at_threshold": round(
            1.0 - (1.0 - p_thr**planes) ** tables, 4
        ),
        **score,
    }


def vector_index_recall_autotune(
    spark: SparkSession,
    path: str,
    threshold: float = 0.85,
    recall_target: float = 0.9,
    sample_q: int = 30,
    max_steps: int = 6,
    max_tables: int = 128,
    min_planes: int = 1,
    candidates_per_vector: float = 32.0,
    max_candidate_load: "float | None" = 1024.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "recall",
) -> dict:
    """Closed-loop GEOMETRY sizing for the persistent hyperplane
    index: rebuild under progressively wider geometry until the
    MEASURED near-dup recall (``vector_index_recall_sample``) meets
    the target — the actuator the sensor was missing (VERDICT r09:
    the 1M clustered sensor read 0.28–0.36 at thresholds 0.8/0.85
    with prediction ≈ measurement, i.e. the GEOMETRY, not the model,
    was the limit, and the only remedy was a manual rebuild with
    hand-picked knobs).  A
    hyperplane index's recall lives in its FROZEN geometry, so every
    escalation here is a full re-bucketing rebuild (signatures are
    deterministic functions of (vector, geometry), so no
    re-ingestion), and the family has no structurally exact
    endpoint, so exhaustion with ``met=False`` is a possible,
    honest outcome.

    Ladder: measure the stored geometry first (a healthy index never
    rebuilds); on a breach jump to the INVERSE banding solve at the
    caller's (threshold, target) — ``vector_geometry_for_recall``,
    sized for the measured corpus — then escalate by doubling tables
    to ``max_tables`` and shedding planes toward ``min_planes``
    (each shed plane multiplies per-table match probability by 1/p
    and doubles random candidates — the honest price trail).  The
    measured sample is the SAME deterministic md5-order draw every
    step (truth depends only on the stored vectors, which rebuilds
    never change), so step-to-step deltas are attributable to
    geometry alone.

    Returns the final geometry + measurement plus the full ``steps``
    trail (each step: geometry, banding prediction, measured recall,
    tail ``min_query_recall``, rebuild cost) — the evidence an
    operator uses to weigh candidate-load cost against recall, or to
    conclude the threshold is unaffordable for this family.
    ``met=None`` (no rebuild) when the sample has no true pairs at
    the threshold — raise ``sample_q`` or lower ``threshold`` rather
    than tuning against a vacuum.

    ``max_candidate_load`` (ADVICE r10): an escalation toward
    ``max_tables``/``min_planes`` can land a geometry whose expected
    random candidate load, ``N·tables/2^planes``, approaches
    O(N²)-class at weak thresholds — every NEXT geometry is priced
    with the same closed form the inverse solve reports, and a
    load-increasing move past the ceiling stops the walk
    (``exhausted=True`` + ``stopped_on_candidate_load`` naming the
    refused geometry and its load) instead of silently buying recall
    with an unaffordable probe.  ``None`` disables the gate.  The
    walk mechanics live in ``operators/recall_tune.py`` — the one
    engine all three index families share."""
    import time

    from data_engineering_user_session_analysis_spark.operators.recall_tune import (
        autotune_walk,
        solve_then_ladder,
        walk_result,
    )
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        vector_geometry_for_recall,
    )

    if not 0.0 < recall_target < 1.0:
        raise ValueError(f"recall_target must be in (0, 1), got {recall_target}")

    def _predicted(g: dict) -> float:
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        return round(1.0 - (1.0 - p ** g["planes"]) ** g["tables"], 4)

    state: dict = {"n": 2}

    def _measure(rebuild_sec: "float | None") -> dict:
        r = vector_index_recall_sample(
            spark, path, threshold=threshold, sample_q=sample_q,
            id_col=id_col, vec_col=vec_col, salt=salt,
        )
        state["n"] = r["n_vectors"]
        return {
            "tables": r["tables"],
            "planes": r["planes"],
            "predicted_recall_at_threshold": r["predicted_recall_at_threshold"],
            "true_pairs": r["true_pairs"],
            "found_pairs": r["found_pairs"],
            "recall_at_threshold": r["recall_at_threshold"],
            "min_query_recall": r["min_query_recall"],
            "probe_sec": r["probe_sec"],
            "rebuild_sec": rebuild_sec,
            "n_vectors": r["n_vectors"],
        }

    def _solve() -> dict:
        return vector_geometry_for_recall(
            state["n"], threshold, recall_target=recall_target,
            candidates_per_vector=candidates_per_vector,
            min_planes=min_planes, max_tables=min(max_tables, 64),
        )

    def _apply(geom: dict) -> float:
        t0 = time.monotonic()
        rebuild_vector_index(
            spark, path, geometry=geom, id_col=id_col, vec_col=vec_col
        )
        return round(time.monotonic() - t0, 3)

    walk = autotune_walk(
        measure=_measure,
        recall_key="recall_at_threshold",
        recall_target=recall_target,
        max_steps=max_steps,
        next_geometry=solve_then_ladder(
            solve=_solve,
            predicted=_predicted,
            primary_key="tables",
            primary_max=max_tables,
            secondary_key="planes",
            secondary_min=min_planes,
            widen_primary=lambda t: 2 * t,
            shrink_secondary=lambda p: p - 1,
        ),
        apply_geometry=_apply,
        # the banding family's closed-form random-candidate load —
        # the same expression vector_geometry_for_recall reports
        candidate_load=lambda g: state["n"] * g["tables"] / 2.0 ** g["planes"],
        max_candidate_load=max_candidate_load,
    )
    return walk_result(
        walk, "n_vectors", ("tables", "planes"),
        threshold=threshold, recall_target=recall_target, sample_q=sample_q,
    )


def minhash_index_recall_sample(
    spark: SparkSession,
    path: str,
    threshold: float = 0.7,
    sample_q: int = 20,
    id_col: str = "doc_id",
    salt: str = "recall",
) -> dict:
    """Measured near-dup recall of the persistent MinHash index on a
    deterministic exact-Jaccard sample — the TEXT-index member of the
    sensor family (with ``vector_index_recall_sample``).  Sample:
    the ``sample_q``
    indexed docs with the smallest ``md5(id:salt)``.  Truth: ONE
    pass of the stored ``sets/`` table against the broadcast sample —
    exact shingle Jaccard (the same array_intersect/union expression
    the production verification uses), every pair ≥ ``threshold``.
    Found: the sampled ids' STORED bucket rows joined against the
    stored ``buckets/`` on (band, bucket) — the production probe's
    candidate step, whose exact verification gives precision 1.0, so
    candidate ∧ true IS retrieved.  Both sides stay distributed;
    the driver sees per-query (n_true, n_found) counts only.

    The prediction reported alongside is the banding closed form at
    the threshold, ``1 − (1 − J^rows)^bands`` with the module
    geometry (16 bands × 4 rows) — the s-curve every MinHash-LSH
    derivation prices collisions with; like the vector sensor it is
    an AT-threshold number, so measured recall above a steep
    threshold typically exceeds it (real pairs sit above the
    threshold).  ``recall_at_threshold`` is None — never a vacuous
    1.0 — when the sample has no true pairs.

    Like the vector sensor, the ``ds=`` layout scopes both truth and
    candidates to marker-complete days (``_marker_complete_days``) —
    a crashed day's sets (written before its buckets) must not enter
    the truth as unfindable pairs (ADVICE r09)."""
    if sample_q < 1:
        raise ValueError(f"sample_q must be >= 1, got {sample_q}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    stored = _read_minhash_params(spark, path)
    bands, rows = (
        (stored["bands"], stored["rows_per_band"])
        if stored is not None
        else (_BANDS, _ROWS_PER_BAND)
    )
    sets = complete_days_only(
        spark.read.parquet(os.path.join(path, "sets")), path
    )
    n = sets.count()
    queries = (
        md5_sample(sets, id_col, salt, sample_q)
        .select(F.col(id_col).alias("q_id"), F.col("sh_set").alias("q_set"))
        .localCheckpoint(eager=True)
    )

    # exact-Jaccard truth cached under the index by the shared core:
    # content-keyed on the stored sets, so appends invalidate
    # naturally and re-banding rebuilds keep it valid
    def _truth():
        return (
            F.broadcast(queries)
            .crossJoin(
                sets.select(
                    F.col(id_col).alias("other_id"), F.col("sh_set").alias("o_set")
                )
            )
            .filter(F.col("other_id") != F.col("q_id"))
            .withColumn(
                "_i", F.size(F.array_intersect("q_set", "o_set")).cast("double")
            )
            .withColumn(
                "jaccard",
                F.col("_i")
                / (F.size("q_set") + F.size("o_set") - F.col("_i")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("q_id", "other_id")
        )

    def _cand():
        # same marker-complete scope as the truth scan
        buckets = complete_days_only(
            spark.read.parquet(os.path.join(path, "buckets")), path
        )
        q_buckets = buckets.join(
            F.broadcast(queries.select(F.col("q_id").alias(id_col))), id_col
        ).select(F.col(id_col).alias("q_id"), "band", "bucket")
        return (
            F.broadcast(q_buckets)
            .join(
                buckets.select(F.col(id_col).alias("other_id"), "band", "bucket"),
                ["band", "bucket"],
            )
            .filter(F.col("other_id") != F.col("q_id"))
            .select("q_id", "other_id")
            .distinct()
        )

    score = recall_sensor_score(
        spark, path, "minhash",
        sets.select(F.col(id_col), F.col("sh_set")), id_col, "sh_set",
        n, (threshold, sample_q, salt, id_col), _truth, _cand,
    )
    return {
        "n_docs": n,
        "sample_q": queries.count(),
        "threshold": threshold,
        "bands": bands,
        "rows_per_band": rows,
        "predicted_recall_at_threshold": round(
            1.0 - (1.0 - threshold**rows) ** bands, 4
        ),
        **score,
    }


def minhash_geometry_for_recall(
    threshold: float,
    recall_target: float = 0.9,
    min_rows: int = 1,
    max_rows: int = 8,
    min_bands: int = 8,
    max_bands: int = 64,
) -> dict:
    """INVERSE banding solve for the MinHash family: the (bands,
    rows_per_band) that hold ``recall_target`` at the caller's
    Jaccard ``threshold`` — the text twin of
    ``vector_geometry_for_recall``, completing the sensor+actuator
    symmetry (both LSH families re-band).  The banding closed form: a pair at Jaccard J matches
    one band with probability J^rows, so ``bands =
    ⌈ln(1−target)/ln(1−threshold^rows)⌉``.

    Row selection is PRECISION-FIRST, mirroring the vector solve's
    deepest-feasible-planes rule: deeper rows make each band more
    selective (random-overlap pairs collide per band with roughly the
    background-Jaccard^rows rate, so every shed row multiplies the
    false-candidate load), at the price of more bands; the solve
    takes the DEEPEST rows whose bands bill fits ``max_bands``.
    ``feasible=False`` (with the widest tried geometry and its
    achieved prediction) when even ``min_rows`` cannot reach the
    target — the signature cost (bands·rows minhashes per doc) is
    reported so callers see what they are buying."""
    if not 0.0 < recall_target < 1.0:
        raise ValueError(f"recall_target must be in (0, 1), got {recall_target}")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")

    def _bands_needed(rows: int) -> float:
        match = threshold**rows
        if match >= 1.0:
            return 1.0
        return math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - match))

    rows = max_rows
    while rows > min_rows and _bands_needed(rows) > max_bands:
        rows -= 1
    need = _bands_needed(rows)
    feasible = need <= max_bands
    bands = int(min(max(need if feasible else max_bands, min_bands), max_bands))
    return {
        "rows_per_band": rows,
        "bands": bands,
        "feasible": feasible,
        "threshold": threshold,
        "recall_target": recall_target,
        "predicted_recall_at_threshold": 1.0
        - (1.0 - threshold**rows) ** bands,
        "signature_hashes_per_doc": bands * rows,
    }


def rebuild_minhash_index(
    spark: SparkSession,
    path: str,
    geometry: dict,
    id_col: str = "doc_id",
) -> dict:
    """Re-band the ENTIRE MinHash index under an explicit (bands,
    rows_per_band) — the text twin of
    ``rebuild_vector_index(geometry=...)``, and the rebuild step of
    ``minhash_index_recall_autotune``.  Signatures are deterministic
    functions of (shingle set, geometry), so every bucket row is
    recomputed from the stored ``sets/`` — no re-shingling and no
    raw-text access (which is also why the shingle ``n`` is frozen:
    changing it would need the original text).

    Layout-preserving like the vector rebuild: a ds-partitioned index
    keeps its per-day ``sets/ds=*`` shards and gets per-day bucket
    partitions with ``_SUCCESS`` markers restored ONLY for days that
    were marker-complete before the rebuild; a flat index stays flat.
    Under the ds layout signatures are recomputed per (doc_id, ds)
    group — the exact grouping the per-day append wrote — so a doc_id
    present in multiple day partitions keeps its per-day signatures
    instead of getting one merged cross-day signature (ADVICE r10).
    Same ``<path>.rebuild`` + two-rename crash-safety contract and
    single-writer/no-concurrent-probe caveats.  Returns
    ``{"n_docs", "geometry", "layout"}``."""
    stored = _read_minhash_params(spark, path)
    n = stored["n"] if stored is not None else 3
    bands, rows = int(geometry["bands"]), int(geometry["rows_per_band"])
    sets = spark.read.parquet(os.path.join(path, "sets"))
    layout = "ds" if "ds" in sets.columns else "flat"
    tmp = begin_rebuild(path)
    _write_minhash_params(spark, tmp, bands, rows, n)
    n_docs = sets.count()
    if layout == "ds":
        pre_complete = pre_complete_days(path)
        sets.write.mode("overwrite").partitionBy("ds").parquet(
            os.path.join(tmp, "sets")
        )
        # one partitioned job recomputes every day's buckets; the
        # per-day markers are restored after (a bulk partitionBy
        # write only stamps the top level).  Signatures are grouped
        # per (doc_id, ds) — NOT per doc_id across days: a doc_id
        # present in multiple ds partitions (re-ingested/updated doc)
        # was signed per-day by the append path, so grouping its
        # shingles across days would merge the signatures and land
        # the rebuild in different buckets than an append-built index
        # (ADVICE r10).  The composite struct key keeps it one
        # distributed job over all days instead of a job per day.
        shingles = sets.select(
            F.struct(F.col(id_col), F.col("ds")).alias("_rid"),
            F.explode("sh_set").alias("shingle"),
        )
        (
            _bucket_table(shingles, "_rid", bands, rows)
            .select(
                F.col(f"_rid.{id_col}").alias(id_col),
                F.col("_rid.ds").alias("ds"),
                "band",
                "bucket",
            )
            .write.mode("overwrite")
            .partitionBy("ds")
            .parquet(os.path.join(tmp, "buckets"))
        )
        restore_day_markers(tmp, pre_complete)
    else:
        sets.write.mode("overwrite").parquet(os.path.join(tmp, "sets"))
        shingles = sets.select(F.col(id_col), F.explode("sh_set").alias("shingle"))
        _bucket_table(shingles, id_col, bands, rows).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "buckets"))
    commit_rebuild(path, tmp)
    return {
        "n_docs": n_docs,
        "geometry": {"bands": bands, "rows_per_band": rows, "n": n},
        "layout": layout,
    }


def _minhash_pair_collision_rate(
    spark: SparkSession, path: str, n_docs: int
) -> "float | None":
    """Measured per-band bucket-collision probability of a random
    doc pair under the index's CURRENT buckets — the empirical input
    the autotune's candidate-load gate needs (ADVICE r10): unlike the
    vector family, the MinHash false-candidate rate depends on the
    corpus's background Jaccard, which no closed form knows.  One
    bounded agg over the stored buckets: bucket-mate (ordered) pairs
    summed over all (band, bucket) groups, divided by
    ``bands · n · (n−1)``.  Includes TRUE near-dup collisions, so the
    backed-out background Jaccard overestimates — the gate errs
    conservative.  ``None`` when the index is too small to price."""
    stored = _read_minhash_params(spark, path)
    bands = stored["bands"] if stored is not None else _BANDS
    if n_docs < 2:
        return None
    b = complete_days_only(
        spark.read.parquet(os.path.join(path, "buckets")), path
    )
    mates = (
        b.groupBy("band", "bucket")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1)).alias("m"))
        .first()["m"]
    )
    if mates is None:
        return None
    return mates / (bands * n_docs * (n_docs - 1.0))


def minhash_index_recall_autotune(
    spark: SparkSession,
    path: str,
    threshold: float = 0.5,
    recall_target: float = 0.9,
    sample_q: int = 20,
    max_steps: int = 6,
    max_bands: int = 128,
    min_rows: int = 1,
    max_candidate_load: "float | None" = 1024.0,
    id_col: str = "doc_id",
    salt: str = "recall",
) -> dict:
    """Closed-loop GEOMETRY sizing for the persistent MinHash index:
    re-band under progressively wider geometry until the MEASURED
    Jaccard recall (``minhash_index_recall_sample``) meets the target
    — the text member of the actuator family (CLI: ``job
    tune-recall-minhash``), with the same contract as
    ``vector_index_recall_autotune``: measure the stored geometry
    first (a healthy index never rebuilds), jump to the inverse
    banding solve on a breach, escalate by doubling bands to
    ``max_bands`` then shedding rows toward ``min_rows`` (each shed
    row multiplies the false-candidate load — the honest price
    trail), one full re-banding rebuild per step, NO structurally
    exact endpoint (exhaustion with ``met=False`` is possible and
    honest), and ``met=None`` without rebuilding when the sample has
    no true pairs at the threshold.  The md5-order sample and its
    exact-Jaccard truth depend only on the stored ``sets/``, which
    rebuilds never change — step deltas are geometry-attributable.

    ``max_candidate_load`` (ADVICE r10): shedding rows toward
    ``min_rows`` multiplies the false-candidate load by the inverse
    background Jaccard per shed row — a ladder that ignores it can
    land an O(N²)-class geometry.  The expected load of every NEXT
    geometry is priced as ``n · bands · J_bg^rows`` with ``J_bg``
    backed out of the CURRENT buckets' measured collision rate
    (``_minhash_pair_collision_rate`` — one bounded agg, computed
    once per tune), and a load-increasing move past the ceiling stops
    the walk with ``stopped_on_candidate_load`` instead of buying
    recall with an unaffordable probe.  The walk mechanics live in
    ``operators/recall_tune.py``."""
    import time

    from data_engineering_user_session_analysis_spark.operators.recall_tune import (
        autotune_walk,
        solve_then_ladder,
        walk_result,
    )

    if not 0.0 < recall_target < 1.0:
        raise ValueError(f"recall_target must be in (0, 1), got {recall_target}")

    def _predicted(g: dict) -> float:
        return round(
            1.0 - (1.0 - threshold ** g["rows_per_band"]) ** g["bands"], 4
        )

    state: dict = {"n": 0, "j_bg": None}

    def _measure(rebuild_sec: "float | None") -> dict:
        r = minhash_index_recall_sample(
            spark, path, threshold=threshold, sample_q=sample_q,
            id_col=id_col, salt=salt,
        )
        state["n"] = r["n_docs"]
        if state["j_bg"] is None:
            # back out the background Jaccard once, from the ENTRY
            # geometry's measured collision rate (p = J^rows): the
            # rate is geometry-dependent but J is corpus-intrinsic,
            # so one estimate prices every ladder move
            p = _minhash_pair_collision_rate(spark, path, r["n_docs"])
            if p is not None and p > 0 and r["rows_per_band"] > 0:
                state["j_bg"] = min(p ** (1.0 / r["rows_per_band"]), 1.0)
        return {
            "bands": r["bands"],
            "rows_per_band": r["rows_per_band"],
            "predicted_recall_at_threshold": r["predicted_recall_at_threshold"],
            "true_pairs": r["true_pairs"],
            "found_pairs": r["found_pairs"],
            "recall_at_threshold": r["recall_at_threshold"],
            "min_query_recall": r["min_query_recall"],
            "probe_sec": r["probe_sec"],
            "rebuild_sec": rebuild_sec,
            "n_docs": r["n_docs"],
        }

    def _load(g: dict) -> "float | None":
        if state["j_bg"] is None:
            return None
        return state["n"] * g["bands"] * state["j_bg"] ** g["rows_per_band"]

    def _apply(geom: dict) -> float:
        t0 = time.monotonic()
        rebuild_minhash_index(spark, path, geom, id_col=id_col)
        return round(time.monotonic() - t0, 3)

    walk = autotune_walk(
        measure=_measure,
        recall_key="recall_at_threshold",
        recall_target=recall_target,
        max_steps=max_steps,
        next_geometry=solve_then_ladder(
            solve=lambda: minhash_geometry_for_recall(
                threshold, recall_target=recall_target,
                min_rows=min_rows, max_bands=min(max_bands, 64),
            ),
            predicted=_predicted,
            primary_key="bands",
            primary_max=max_bands,
            secondary_key="rows_per_band",
            secondary_min=min_rows,
            widen_primary=lambda b: 2 * b,
            shrink_secondary=lambda r: r - 1,
        ),
        apply_geometry=_apply,
        candidate_load=_load,
        max_candidate_load=max_candidate_load,
    )
    return walk_result(
        walk, "n_docs", ("bands", "rows_per_band"),
        threshold=threshold, recall_target=recall_target, sample_q=sample_q,
    )
