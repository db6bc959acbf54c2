"""Similarity-search queries over the `embeddings` table
(array<float> vectors).

Float determinism: dot products fold left-to-right with a DOUBLE
accumulator in BOTH engines (Spark `aggregate` / DuckDB `list_sum`
over an element-wise transform), and float->double widening is exact,
so scores are bit-identical and rankings agree.

Scale posture (100 TB): every query anchors on a FIXED-SIZE literal
id set (queries, coarse centroids), so the broadcast sides are O(k)
constants regardless of corpus size — the round-1 `vec_id % m` scheme
made them O(N) and is gone.  The near-dup pair query is backed by the
bucketed hyperplane-LSH operator (`operators/vector_lsh.py`), not an
all-pairs cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.tables import load_table

# Fixed query/centroid id sets.  Literal lists, NOT derived from N:
# at 100x the data these stay 10 and 5 entries, so the broadcasts
# stay O(k).  (In production the seed set comes from a bounded
# sampling/k-means step — still constant-K.)  The values reproduce
# the ids `vec_id % 50 == 0` / `% 101 == 0` selected at sf0.01, so
# round-1 driver outputs are unchanged.
ANCHOR_IDS = tuple(range(0, 500, 50))  # 10 query anchors
IVF_SEED_IDS = (0, 101, 202, 303, 404)  # 5 coarse centroids

EMBEDDING_DIM = 64


def dot_double(a, b):
    """Sequential-fold dot product with a double accumulator."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ids_sql(ids: tuple[int, ...]) -> str:
    return ", ".join(str(i) for i in ids)


@register(
    "knn_brute_force",
    f"""
WITH anchors AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN ({_ids_sql(ANCHOR_IDS)})
), scored AS (
  SELECT q_id, vec_id AS neighbor_id,
    list_sum(list_transform(list_zip(q_emb, embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot
  FROM anchors, embeddings
  WHERE vec_id <> q_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY dot DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 nearest neighbors (dot product) for a fixed
    literal anchor set — the exact baseline ANN variants are judged
    against.

    Plan shape: the anchor set is a CONSTANT 10 ids → broadcast
    nested-loop join against the full table (no shuffle of the big
    side), then a per-anchor top-k window.  At 100 TB the same plan
    holds: anchors broadcast (O(k), not O(N)), score+rank map-side,
    one small shuffle for the window.  Scoring uses the Arrow dot
    kernel (pinned bit-identical to the ``dot_double`` fold the
    oracle replays): k·N dots through an interpreted higher-order
    fold is the classic hidden hot path."""
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import foldl_dot_column

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id").isin(*ANCHOR_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        F.broadcast(anchors)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            foldl_dot_column("q_emb", "embedding").alias("dot"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def _lsh_oracle_sql(threshold: float, dim: int) -> str:
    """DuckDB twin of `operators/vector_lsh.py` with N-SCALED
    geometry: the SQL derives (tables, planes) from ``count(*)`` at
    RUNTIME via the same integer law as ``oracle_geometry`` (planes
    from ``length(bin(n))`` = exact bit-length; tables from a literal
    CASE generated by ``oracle_tables_for_planes``), then replays the
    md5-derived ±1 hyperplane signs with DuckDB's own ``md5()`` —
    byte 0's low bit is hex char 2's parity — over a bounded
    (table, plane) grid.  Signature dots stay EXACT integer
    arithmetic over ``floor(x * 1e6)``-quantized components
    (order-independent — see vector_lsh.py), so one static SQL
    string is bit-exact against the Spark plan at EVERY data scale.
    (The r11 row pinned an 8×4 compile-time geometry to keep the SQL
    static — measured quadratic at the sf1 sweep; runtime geometry
    removes the pin without giving up the hash gate.)"""
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        ORACLE_MAX_PLANES,
        ORACLE_MAX_TABLES,
        ORACLE_MIN_PLANES,
        QUANT_SCALE,
        oracle_tables_for_planes,
    )

    tables_case = " ".join(
        f"WHEN {pl} THEN {oracle_tables_for_planes(pl)}"
        for pl in range(ORACLE_MIN_PLANES, ORACLE_MAX_PLANES + 1)
    )
    return f"""
WITH geom AS (
  SELECT planes, CASE planes {tables_case} END AS tables
  FROM (
    SELECT LEAST(GREATEST(length(bin(count(*))) - 2, {ORACLE_MIN_PLANES}),
                 {ORACLE_MAX_PLANES}) AS planes
    FROM embeddings
  )
), planes_tbl AS (
  SELECT t.range AS t, i.range AS i,
    list_transform(range({dim}), d ->
      CASE WHEN strpos('13579bdf',
             substr(md5(t.range || ':' || i.range || ':' || d), 2, 1)) > 0
           THEN 1 ELSE -1 END) AS signs
  FROM range({ORACLE_MAX_TABLES}) t, range({ORACLE_MAX_PLANES}) i, geom g
  WHERE t.range < g.tables AND i.range < g.planes
), q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS qe
  FROM embeddings
), bits AS (
  SELECT q.vec_id, p.t,
    CASE WHEN list_sum(list_transform(list_zip(q.qe, p.signs),
                                      z -> z[1] * z[2])) > 0
         THEN CAST(1 AS BIGINT) << p.i ELSE CAST(0 AS BIGINT) END AS w
  FROM q CROSS JOIN planes_tbl p
), sigs AS (
  SELECT vec_id, t, SUM(w) AS sig FROM bits GROUP BY vec_id, t
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig
  WHERE a.vec_id < b.vec_id
), n AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT vec_a, vec_b,
  list_sum(list_transform(list_zip(a.embedding, b.embedding),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (a.nrm * b.nrm) AS cosine
FROM cand
JOIN n a ON vec_a = a.vec_id
JOIN n b ON vec_b = b.vec_id
WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (a.nrm * b.nrm) >= {threshold}
"""


_NEARDUP_THRESHOLD = 0.4


@register(
    "embedding_neardup",
    _lsh_oracle_sql(_NEARDUP_THRESHOLD, EMBEDDING_DIM),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH
    bucketing (`operators/vector_lsh.py`) — candidates come from band
    buckets, NOT an all-pairs cross join, then get exact-cosine
    verified (precision 1.0; recall = the LSH catch rate, tested in
    tests/test_similarity.py).

    Geometry is N-SCALED (round 12): one ``count()`` job feeds
    ``vector_lsh.oracle_geometry`` — planes from the exact integer
    bit-length of N, tables from the recall law's 27-entry lookup —
    and the oracle SQL derives the SAME geometry at runtime from
    ``count(*)`` + ``length(bin(n))`` + a literal CASE, replaying the
    md5 plane signs with DuckDB's own ``md5()``.  This replaces the
    r11 row's pinned 8×4 demo geometry, whose candidate mass was
    ~N²/2⁴ on near-orthogonal data — measured quadratic in the
    sf0.1→sf1 sweep pair (2.9 s → 244 s at 10× rows).  With the law,
    random candidates stay 20–100 per vector from n=500 through
    n=10⁹: the total candidate mass — and so the row's wall-clock —
    is linear in N.

    The hyperplanes are deterministic md5-derived ±1 signs and the
    signature dots are exact int64 sums over ``floor(x*1e6)``-
    quantized components (one Arrow-batched numpy matmul — see
    vector_lsh.py), so both engines replay the identical
    construction: a full hash-checked row at every decade, not a
    rows-only pass.  Scale shape: signatures are a map-only
    projection, bucketing is one shuffle on (table, signature),
    exact scoring touches only bucket-mates.  Recall at this WEAK
    0.4 threshold decays as planes deepen (the closed-form-predicted
    price of linear candidates — ``oracle_geometry`` docstring);
    near-dup recall at cos≥0.95 holds ≥0.9 at every N by the tables
    law."""
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        lsh_similarity_pairs,
        oracle_geometry,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    tables, planes = oracle_geometry(emb.count())
    return lsh_similarity_pairs(
        emb,
        threshold=_NEARDUP_THRESHOLD,
        dim=EMBEDDING_DIM,
        tables=tables,
        planes=planes,
    )


@register(
    "ann_ivf_topk",
    f"""
WITH seeds AS (
  SELECT vec_id AS sid, embedding AS se FROM embeddings
  WHERE vec_id IN ({_ids_sql(IVF_SEED_IDS)})
), assign_scored AS (
  SELECT e.vec_id, s.sid,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY list_sum(list_transform(list_zip(e.embedding, s.se),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
               s.sid ASC) AS rn
  FROM embeddings e, seeds s
), cells AS (
  SELECT vec_id, sid AS cell FROM assign_scored WHERE rn = 1
), anchors AS (
  -- multiprobe: each anchor searches its top-2 cells (nprobe=2)
  SELECT a.vec_id AS q_id, e.embedding AS q_emb, a.sid AS cell
  FROM assign_scored a JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE a.vec_id IN ({_ids_sql(ANCHOR_IDS)}) AND a.rn <= 2
), scored AS (
  SELECT a.q_id, e.vec_id AS neighbor_id,
    row_number() OVER (
      PARTITION BY a.q_id
      ORDER BY list_sum(list_transform(list_zip(a.q_emb, e.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
               e.vec_id ASC) AS rank
  FROM anchors a
  JOIN cells c ON c.cell = a.cell
  JOIN embeddings e ON e.vec_id = c.vec_id
  WHERE e.vec_id <> a.q_id
)
SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank
FROM scored WHERE rank <= 3
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate nearest neighbors — the scale path
    for similarity search.

    Deterministic construction (so the oracle can replay it): coarse
    centroids = a FIXED literal seed set (constant K — round 1 derived
    seeds from `vec_id % 101`, which made K grow with N and the
    assignment cross join O(N²/101); at production scale the seed set
    comes from a bounded sampling/k-means step, still constant-K);
    every vector is assigned to its max-dot centroid (tie-break by
    centroid id); each anchor searches its top-2 cells (nprobe=2),
    exact top-3 by dot.

    Scale shape: centroids are an O(K) broadcast constant; assignment
    is a broadcast crossJoin + interpreted fold dots (N·K pairs, no
    Arrow stage — at N·K in the thousands a pandas-UDF stage costs
    more in Python-worker setup than the whole fold); the search join
    is cell-equi (shuffle on cell id, cells ~N/K vectors) instead of a
    full cross join — candidates drop from N to nprobe*N/K per query.
    Recall vs brute force is the probe tradeoff (recall@3 = 0.70 at
    nprobe=2 on the clusterless synthetic set, tested).

    The FIXED literal seed list is what lets the DuckDB oracle replay
    the construction; it is an sf0.01 fixture, not a scaling rule."""
    from data_engineering_user_session_analysis_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id").isin(*IVF_SEED_IDS)).select(
        F.col("vec_id").alias("sid"), F.col("embedding").alias("se")
    )
    return ivf_topk(emb, ANCHOR_IDS, seeds, nprobe=2, topk=3)


ROUTE_SEED_K = 6


def _route_seed_component(t: int, d: int) -> float:
    """Component d of literal routing seed t: an exact (t+2)/256
    multiple, so the literal text parses to the IDENTICAL double in
    Spark, numpy, and DuckDB.  The (37t + 11d + t²) mod 64 pattern
    makes each seed a scaled permutation of the same value multiset;
    the per-seed scale (t+2)/4 gives the seeds DISTINCT norms
    (2.31·(t+2)/4), which is what makes this row discriminating: a
    max-DOT router would prefer the long seeds, so only genuine
    cosine (normalized) routing matches the oracle's argmax."""
    return ((37 * t + 11 * d + t * t) % 64 - 32) / 64.0 * (t + 2) / 4.0


def _route_seeds_sql() -> str:
    rows = ", ".join(
        "({}, CAST([{}] AS DOUBLE[]))".format(
            t,
            ", ".join(repr(_route_seed_component(t, d)) for d in range(EMBEDDING_DIM)),
        )
        for t in range(ROUTE_SEED_K)
    )
    return f"VALUES {rows}"


@register(
    "ann_cos_route",
    f"""
WITH seeds(sid, se) AS (
  {_route_seeds_sql()}
), n AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), scored AS (
  SELECT vec_id, sid,
    row_number() OVER (PARTITION BY vec_id ORDER BY
      list_sum(list_transform(list_zip(embedding, se),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (nrm * sqrt(list_sum(list_transform(se, x -> x * x)))) DESC,
      sid ASC) AS rn
  FROM n, seeds
)
SELECT vec_id, CAST(sid AS BIGINT) AS cell FROM scored WHERE rn = 1
""",
)
def ann_cos_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-COSINE routing of every embedding to a literal seed set,
    through the chunked-BLAS cosine kernel
    (`operators/ivf.py:_max_cos_matmul_kernel` / ``_best_cos_udf``).
    Seeds that are float means rather than corpus vectors are not
    engine-replayable, so this fixture variant gives the routing
    kernel a DuckDB row at row grain, the same literal-fixture pattern
    as ``ann_ivf_topk``.

    Fixture construction: K=6 literal seeds whose components are
    exact (t+2)/256 dyadic multiples — identical doubles in every
    engine — with per-seed norms DISTINCT by construction, so a
    max-dot router provably mismatches the oracle while cosine
    routing matches (see ``_route_seed_component``).  Output is the
    integer argmax only (vec_id, cell): the ulp-level float drift
    between the kernel's BLAS matmul and the oracle's fold is 10
    orders of magnitude below the measured min top-2 cosine margin
    (6.6e-5 at sf0.1), so the argmax is engine-stable while the
    hashed values stay exact integers.

    Scale shape: the seed set is an O(K) literal collected once into
    a SparkContext broadcast; routing is ONE map-only Arrow pass over
    the corpus (no N·K crossJoin, no shuffle)."""
    from data_engineering_user_session_analysis_spark.operators.ivf import (
        _max_cos_matmul_kernel,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = spark.createDataFrame(
        [
            (t, [_route_seed_component(t, d) for d in range(EMBEDDING_DIM)])
            for t in range(ROUTE_SEED_K)
        ],
        "sid long, se array<double>",
    )
    return _max_cos_matmul_kernel(emb, seeds, "vec_id", "embedding")


@register(
    "approx_event_stats",
    """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
  quantile_cont(value, 0.5) AS exact_p50,
  quantile_cont(value, 0.99) AS exact_p99,
  TRUE AS hll_within_rtol,
  TRUE AS p50_within_rtol,
  TRUE AS p99_in_tail_bracket
FROM events GROUP BY event_type
""",
)
def approx_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based statistics — the 100 TB variants of countDistinct
    and percentile (single-pass, mergeable, bounded memory: HLL++ and
    the percentile_approx sketch).

    Raw sketch outputs are engine-specific, so round 2 recorded a
    rows-only check.  This round makes the row fully hash-checked and
    the sketches LOAD-BEARING: the plan computes the exact twins in
    the same aggregation and emits in-plan relative-error booleans
    (``abs(approx - exact) <= rtol * |exact|``); the oracle checks
    the exact columns by value and expects every error flag TRUE.  A
    broken sketch (or a tolerance blowout) flips a boolean and fails
    the hash — while the hashed values themselves stay
    engine-neutral.  Tolerances: HLL++ default rsd is 5%, checked at
    20%; the p50 sketch at 10% relative error; the p99 sketch with a
    BRACKET check (lands in [exact p95, max]) — at small group counts
    the sketch legitimately returns a tail ELEMENT that can sit far
    from the interpolated exact p99 in relative terms (24% on the
    sf0.001 fixture), while the bracket stays scale-independent and
    still fails on any genuinely broken sketch."""
    from data_engineering_user_session_analysis_spark.sources.events import load_events

    def within(approx: str, exact: str, rtol: float):
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= F.lit(rtol) * F.abs(F.col(exact)) + F.lit(1e-9)
        )

    ev = load_events(spark, sf_dir)
    # countDistinct lives in its OWN aggregation, joined back on the
    # 5-row group key: mixing a distinct aggregate with the
    # TypedImperativeAggregate sketches (percentile/percentile_approx)
    # forces Spark out of hash aggregation into expand +
    # SortAggregate with per-row serialized sketch buffers — measured
    # 3.9 s vs 0.5 s for the split at sf0.1 (7×).  The join side is
    # one row per event_type, broadcast-class.
    sketches = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.99)").alias("exact_p99"),
        F.expr("percentile(value, 0.95)").alias("_exact_p95"),
        F.max("value").alias("_max_value"),
        F.approx_count_distinct("user_id").alias("_approx_users"),
        F.percentile_approx("value", 0.5).alias("_approx_p50"),
        F.percentile_approx("value", 0.99).alias("_approx_p99"),
    )
    distinct_users = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    agg = sketches.join(distinct_users, "event_type")
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        "exact_p50",
        "exact_p99",
        (
            F.abs(F.col("_approx_users") - F.col("exact_users"))
            <= F.lit(0.2) * F.col("exact_users")
        ).alias("hll_within_rtol"),
        within("_approx_p50", "exact_p50", 0.1).alias("p50_within_rtol"),
        (
            (F.col("_approx_p99") >= F.col("_exact_p95"))
            & (F.col("_approx_p99") <= F.col("_max_value"))
        ).alias("p99_in_tail_bracket"),
    )


@register(
    "label_centroids",
    """
WITH dims AS (
  SELECT label, i AS dim,
    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e9) AS BIGINT) AS xq
  FROM embeddings,
    LATERAL (SELECT unnest(range(len(embedding))) AS i)
)
SELECT label, CAST(dim AS INT) AS dim,
  CAST(sum(xq) AS DOUBLE) / (count(*) * 1e9) AS mean_x,
  CAST(count(*) AS BIGINT) AS n_vectors
FROM dims GROUP BY label, dim
""",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids at (label, dim) grain: posexplode → per-dim
    mean — the Spark-shaped way to compute class centroids without
    any driver-side state (one shuffle on (label, dim)).

    Round-1 shape returned `centroid: array<double>`, which the
    driver's pandas canonicalizer cannot hash (unhashable list cell);
    exploded rows are both hashable AND let the oracle run a full
    value check.

    Determinism (decimal-first rule): a distributed float mean has no
    summation-order guarantee, and round 2's ``round(avg, 6)`` patch
    still flakes when a mean lands within the ~1e-16 wobble of a
    0.5e-6 rounding boundary.  Instead each component is quantized
    ONCE with a single IEEE op pair — ``floor(x * 1e9)`` on the
    exactly-widened double — which is bit-identical in any engine,
    then summed as exact integers (order-free), and the mean is ONE
    final IEEE division of exactly-representable operands.  No
    rounding step remains anywhere, so there is no tie to flake on;
    the quantized mean differs from the true mean by < 1e-9 per
    component.  This query also carries the table-profile row count
    (`n_vectors` per label) that round 1's separate `embedding_norms`
    query reported — see COVERAGE.md."""
    emb = load_table(spark, sf_dir, "embeddings")
    xq = F.floor(F.col("x").cast("double") * F.lit(1e9)).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.sum(xq).alias("sum_q"),
            F.count("*").alias("n_vectors"),
        )
        .select(
            "label",
            F.col("dim").cast("int").alias("dim"),
            (F.col("sum_q").cast("double") / (F.col("n_vectors") * F.lit(1e9))).alias(
                "mean_x"
            ),
            "n_vectors",
        )
    )
