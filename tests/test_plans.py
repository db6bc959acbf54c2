"""Plan-shape pins: the physical-plan properties that make these
queries scale.  A regression here (lost pushdown, extra shuffle,
missed broadcast) is a 100 TB incident even when results stay right.
"""

from __future__ import annotations

import pytest

from data_engineering_user_session_analysis_spark.queries import QUERIES


def _plan(spark, sf, name: str) -> str:
    return QUERIES[name](spark, sf)._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_small):
    plan = _plan(spark, sf_small, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan" in plan
    # column pruning: only the 7 needed columns in ReadSchema
    assert "l_comment" not in plan


def test_q1_partial_aggregation(spark, sf_small):
    plan = _plan(spark, sf_small, "q1_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_session_rollup_single_shuffle(spark, sf_small):
    """Window partitioning (user_id) must be reused by the rollup
    groupBy (user_id, session_id) — one exchange total."""
    plan = _plan(spark, sf_small, "session_rollup")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dim_joins_broadcast(spark, sf_small):
    # snowflake join: the bounded dims (nation, region) by hint and
    # customer/supplier by AQE statistics at this SF, all broadcast
    plan = _plan(spark, sf_small, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # customer, supplier, nation, region
    assert "SortMergeJoin" not in plan


def test_knn_broadcasts_anchors(spark, sf_small):
    plan = _plan(spark, sf_small, "knn_brute_force")
    assert "BroadcastNestedLoopJoin" in plan


def test_top_k_uses_take_ordered(spark, sf_small):
    plan = _plan(spark, sf_small, "top_customers")
    assert "TakeOrderedAndProject" in plan  # not a global sort


def test_top1_per_group_uses_window_group_limit(spark, sf_small):
    plan = _plan(spark, sf_small, "supplier_part_share")
    assert "WindowGroupLimit" in plan  # rank<=1 pushed into the sort


@pytest.mark.parametrize(
    "name", ["doc_quality_scores", "event_enrichment", "media_features"]
)
def test_projections_have_no_shuffle(spark, sf_small, name):
    plan = _plan(spark, sf_small, name)
    assert "Exchange hashpartitioning" not in plan, f"{name} shuffles"


@pytest.mark.parametrize("name", ["simhash_near_pairs", "embedding_neardup"])
def test_near_dup_pairing_is_bucketed_not_all_pairs(spark, sf_small, name):
    """The round-1 scale-killers: pair generation must come from
    bucket-equi joins, never a cartesian/nested-loop self-join of the
    full table (O(N²) at 100 TB)."""
    plan = _plan(spark, sf_small, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans an all-pairs BNLJ"


def test_mixture_realization_is_single_scan(spark, sf_small):
    """apply_mixture realizes the whole mixture from ONE corpus scan
    (r15): the r14 branch form planned one scan per up-stratum plus a
    down-branch scan, unioned — 4 scans of `documents` in this row."""
    plan = _plan(spark, sf_small, "mixture_realization_counts")
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan


def test_verify_jaccard_sets_are_candidate_restricted(spark):
    """The verify stage's set collection must aggregate ONLY docs that
    appear in some candidate pair (r15): the plan carries a LeftSemi
    between the shingle source and the collect_list aggregate, and
    docs outside every candidate neither appear in the output nor
    perturb the verified pairs' Jaccard values."""
    from data_engineering_user_session_analysis_spark.operators.dedup import (
        _verify_jaccard,
        shingle_docs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g z"),
            (3, "p q r s t u v w"),
            (4, "p q r s t u v y"),
            (5, "m n o m n o m n o"),
        ],
        "doc_id long, text string",
    )
    sh = shingle_docs(docs)
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = _verify_jaccard(sh, cand, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    rows = out.collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(1, 2)}
    # each doc holds 6 distinct 3-gram shingles; the pair shares 5
    (r,) = rows
    assert (r.na, r.nb, r.intersection) == (6, 6, 5)
    assert r.jaccard == 5 / 7


def test_simhash_fingerprints_computed_once(spark, sf_small):
    """The fingerprint table feeds SIX pair-expansion consumers; the
    r15 materialization must keep the corpus tokenize+md5+bit-sum pass
    at exactly ONE execution.  Before it, the plan held six parquet
    fingerprint subtrees and AQE stage reuse only collapsed four (the
    same-value self-join's inferred IsNotNull(doc_id) broke canonical
    equality) — so the pin is: downstream of simhash_pairs there is NO
    parquet scan at all, only the checkpointed fingerprint relation."""
    plan = _plan(spark, sf_small, "simhash_near_pairs")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_event_window_functions_single_exchange(spark, sf_small):
    """Both window specs partition by user_id — Catalyst must shuffle
    once and re-sort, not shuffle per window."""
    plan = _plan(spark, sf_small, "event_window_functions")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_session_event_attribution_is_equi_join(spark, sf_small):
    """The range-attribution query must plan the binned EQUI-join +
    residual filter — a raw BETWEEN join predicate would plan as a
    BroadcastNestedLoopJoin (O(|events|·|sessions|) at 100 TB)."""
    from data_engineering_user_session_analysis_spark.plans import count_scans, is_equi_join_only

    df = QUERIES["session_event_attribution"](spark, sf_small)
    assert is_equi_join_only(df), "attribution degraded to BNLJ/cartesian"
    # single-pass left: one scan per input — the two-branch
    # (matched + left-anti) formulation recomputed the bin join and
    # read events 5 times
    assert count_scans(df) == 2, count_scans(df)


def test_plan_audit_helpers(spark, sf_small):
    """The plans.audit API itself: pushdown/partition detection and
    exchange counting on known plans."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.plans import (
        count_exchanges,
        has_pushed_filter,
        whole_stage_codegen_spans,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem").filter(
        F.col("l_quantity") < 10
    ).select("l_orderkey", "l_quantity")
    assert has_pushed_filter(li, "LessThan(l_quantity,")
    assert not has_pushed_filter(li, "GreaterThan(l_quantity,")
    assert count_exchanges(li) == 0
    assert whole_stage_codegen_spans(li) >= 1  # scan+filter+project fused
    agg = li.groupBy("l_orderkey").count()
    assert count_exchanges(agg) == 1


# ---------------------------------------------------------------------------
# Registry-wide plan lint: every registered query swept for the two
# disqualifying-at-100TB shapes.  Per-query pins above check specific
# good properties; this sweep guarantees NO query silently regresses
# into a quadratic join or a row-at-a-time Python UDF.
# ---------------------------------------------------------------------------

# Queries whose plan legitimately contains a nested-loop/cartesian
# operator — each with the reason it is scale-safe.
_ALLOWED_NESTED_LOOP = {
    # 1-row global-max aggregate broadcast-cross-joined back in
    # (the in-plan alternative to a driver collect): |L|*1 loop.
    "user_level": "broadcast cross join against a 1-row aggregate",
    # Fixed-k anchor set (k=5) broadcast against the corpus: the loop
    # is |corpus|*k, i.e. linear in data with a constant factor —
    # the documented brute-force ANN baseline, not an N x N join.
    "knn_brute_force": "broadcast of a constant-size anchor set",
    # Constant-K centroid seeds (K=16) broadcast twice (assignment +
    # probe): |corpus|*K per pass, linear in data.
    "ann_ivf_topk": "broadcast of a constant-K centroid table",
}

# Streaming registry entries EXECUTE a stream on construction (memory
# sink driven to completion) — their plan properties are pinned in
# tests/test_streaming.py instead of swept here.
_SWEEP_EXCLUDED = {"streaming_session_rollup", "streaming_hourly_counts"}


@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if n not in _SWEEP_EXCLUDED)
)
def test_registry_plan_lint(spark, sf_small, name):
    plan = _plan(spark, sf_small, name)
    quadratic = [
        op
        for op in ("BroadcastNestedLoopJoin", "CartesianProduct")
        if op in plan
    ]
    if quadratic and name not in _ALLOWED_NESTED_LOOP:
        raise AssertionError(
            f"{name} plans a quadratic join ({quadratic}) without an "
            "allowlist justification"
        )
    # Row-at-a-time Python UDFs are banned everywhere: every Python
    # hop must be Arrow-batched (ArrowEvalPython / MapInPandas /
    # FlatMapGroupsInPandas), which the lint does allow.
    assert "BatchEvalPython" not in plan, (
        f"{name} plans a row-at-a-time Python UDF"
    )


def test_aqe_splits_skewed_join(spark, tmp_path):
    """Scale posture: the session's AQE skew-join setting actually
    fires.  One hot key dominates the left side of a sort-merge join;
    with the skew thresholds scaled down to fixture size, AQE must
    mark the skewed partition split (``skew=true`` in the final
    adaptive plan) — the runtime defense this engine relies on for
    hot keys it did NOT pre-salt (operators/skew.py covers the ones
    it did)."""
    from pyspark.sql import functions as F

    # parquet inputs: AQE skew stats come from shuffle map sizes, but
    # in-memory ranges coalesce too evenly — files make it realistic
    left_path, right_path = str(tmp_path / "l"), str(tmp_path / "r")
    (
        spark.range(300_000)
        .select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        .write.mode("overwrite")
        .parquet(left_path)
    )
    spark.range(5_000).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").parquet(right_path)

    scoped = {
        # force SMJ (no broadcast) and make the thresholds fixture-sized
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    saved = {}
    for k, v in scoped.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        joined = spark.read.parquet(left_path).join(
            spark.read.parquet(right_path), "k"
        )
        # execute THIS DataFrame's own QueryExecution (count()/write
        # spawn separate ones) so the adaptive plan finalizes
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, plan[:4000]


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """Scale posture: Spark's runtime bloom-filter join reduction
    (on by default in the session) injects a ``might_contain``
    filter on the big probe side when the build side is small and
    selectively filtered — rows that cannot join die at the scan
    instead of travelling through the shuffle.  Thresholds are
    scaled to fixture size; the assertion is that the optimization
    stays ON and actually plans for this shape."""
    from pyspark.sql import functions as F

    big_p, small_p = str(tmp_path / "big"), str(tmp_path / "small")
    (
        spark.range(500_000)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        .write.mode("overwrite")
        .parquet(big_p)
    )
    (
        spark.range(500_000)
        .select(F.col("id").alias("k"), (F.col("id") % 100).alias("grp"))
        .filter(F.col("k") % 97 == 0)
        .write.mode("overwrite")
        .parquet(small_p)
    )
    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {}
    for k, v in scoped.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        joined = spark.read.parquet(big_p).join(
            spark.read.parquet(small_p).filter(F.col("grp") == 3), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan, plan[:4000]
