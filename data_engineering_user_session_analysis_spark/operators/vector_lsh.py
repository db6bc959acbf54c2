"""Random-hyperplane LSH for cosine similarity — the bucketed scale
path for embedding near-dup / similarity joins.

Construction (public SimHash-for-cosine scheme): T hash tables, each
of b hyperplanes; bit (t,i) of a vector's signature is the sign of
its dot product with pseudo-random hyperplane w_{t,i}.  Vectors agree
on one full table's signature with probability (1 - θ/π)^b, so
candidate recall is 1 - (1 - p^b)^T — tables trade cost for recall.

Hyperplanes are DETERMINISTIC: component (t, i, d) is ±1 derived from
md5(f"{t}:{i}:{d}") — reproducible across engines/runs without
shipping a weights file.  ±1 hyperplanes are the standard
memory-light variant (inner product = signed sum).

Signature arithmetic is INTEGER-QUANTIZED: each component is mapped
once through ``floor(x * 1e6)`` (one IEEE multiply + floor on the
exactly-widened double — bit-identical in every engine), then the 32
signed sums are EXACT int64 arithmetic, which is order-independent —
so the signatures can be computed by a vectorized numpy matmul worker-
side AND replayed literally by the DuckDB oracle, with no float
summation-order coupling anywhere.  Sign flips vs the unquantized
dot are confined to |dot| < dim·1e-6, far below any similarity the
bucketing distinguishes; the exact-cosine verify tier is unaffected
(it stays the fold-left double path).

The signature stage is a scalar **pandas UDF** (Arrow-batched numpy
``int64`` matmul) rather than 32 ``F.aggregate`` fold expressions:
higher-order functions are not whole-stage-codegen'd, and the 32-fold
expression tree cost ~4 s of constant planning/interpretation per
query (round-2 bench) — the archetypal justified UDF: a dense
numeric kernel the built-ins only express as interpreted per-row
folds.  One Python hop per Arrow batch, map-only, no shuffle.

Scale shape: signatures are a map-only projection; bucketing is a
groupBy on (table, signature); only bucket-mates are exact-scored.
Candidates drop from N² to Σ bucket².

Sizing rule (``lsh_params``): random near-orthogonal pairs collide
with probability ≈ tables/2^planes, so expected random candidates
per vector ≈ N·tables/2^planes — planes must grow with log2(N) to
keep the candidate set linear in N (a FIXED bucket-size target keeps
Σ bucket² quadratic: bucket size B means B·tables candidates per
vector, and r04's B=125 rule produced a 66× verify overhead at 20k
vectors).  ``lsh_params`` derives planes from an explicit
candidates-per-vector budget, then raises tables to hold recall at
NEAR-DUP cosine (≥0.95); the closed forms are in its docstring.
What deep planes give up is the weak-similarity tail (cos 0.4-0.7,
θ≈50-66°, per-table p^planes collapses) — the production near-dup
posture, stated rather than hidden: exact clones (cos 1.0) are
caught at ANY depth (identical signatures), and the stress bench
records measured clone-pair recall alongside the candidate counts.
The 4-plane/8-table default is tuned for the tiny test corpus's
weak 0.4-cosine threshold (the registered query pins it so its
DuckDB oracle replays a fixed construction); scale-sensitive
callers derive both knobs from ``lsh_params``.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT_SCALE = 1_000_000  # signature quantization: floor(x * 1e6)

#: Cosine at which `lsh_params` holds its recall target: true
#: near-duplicates (re-crawls, boilerplate copies) sit at ≥0.95.
NEARDUP_COS = 0.95


def lsh_params(
    n_vectors: int,
    threshold: float = 0.4,
    candidates_per_vector: float = 32.0,
    recall_target: float = 0.9,
    min_planes: int = 4,
    max_planes: int = 24,
    min_tables: int = 8,
    max_tables: int = 64,
) -> dict:
    """Scale-aware (planes, tables) for the hyperplane LSH.

    Closed forms (p = 1 - θ/π is the per-plane agreement probability
    at angle θ):

    - **planes from the candidate budget**: random pairs collide per
      table with probability ≈ 2^-planes, so expected random
      candidates per vector ≈ N·tables/2^planes; solving for the
      budget gives ``planes = ceil(log2(N·tables / budget))``.
      This is what keeps the candidate set LINEAR in N — any fixed
      bucket-size target keeps it quadratic.
    - **tables from near-dup recall**: a pair at cosine c matches one
      table with probability p(c)^planes, so
      ``tables = ceil(ln(1-recall) / ln(1-p^planes))`` holds the
      recall target at ``NEARDUP_COS``.  (Holding recall at a WEAK
      threshold like 0.4 is provably unaffordable: recall/selectivity
      scales as (2p)^planes, and p(66°)=0.63 needs thousands of
      tables — the returned ``predicted_recall_at_threshold`` states
      the achieved number instead of pretending otherwise.  Exact
      clones, cos 1.0, have identical signatures and recall 1.0 at
      any setting.)

    The two interact only through log2(tables), so one fixpoint pass
    suffices.  Returns the params plus the predictions a caller
    should log next to measured counts."""
    n = max(int(n_vectors), 2)

    def _p(cos: float) -> float:
        return 1.0 - math.acos(min(max(cos, -1.0), 1.0)) / math.pi

    p_dup = _p(NEARDUP_COS)
    tables = min_tables
    planes = min_planes
    for _ in range(4):  # fixpoint: planes↔tables couple via log2
        planes = math.ceil(
            math.log2(max(n * tables / max(candidates_per_vector, 1e-9), 2.0))
        )
        planes = min(max(planes, min_planes), max_planes)
        miss = 1.0 - p_dup**planes
        want = (
            math.ceil(math.log(1.0 - recall_target) / math.log(miss))
            if miss < 1.0
            else max_tables
        )
        new_tables = min(max(want, min_tables), max_tables)
        if new_tables == tables:
            break
        tables = new_tables
    p_thr = _p(threshold)
    return {
        "planes": planes,
        "tables": tables,
        "expected_random_candidates_per_vector": n * tables / 2.0**planes,
        "predicted_recall_at_threshold": 1.0 - (1.0 - p_thr**planes) ** tables,
        "predicted_neardup_recall": 1.0 - (1.0 - p_dup**planes) ** tables,
    }


def vector_geometry_for_recall(
    n_vectors: int,
    threshold: float,
    recall_target: float = 0.9,
    candidates_per_vector: float = 32.0,
    min_planes: int = 1,
    max_planes: int = 24,
    min_tables: int = 8,
    max_tables: int = 64,
) -> dict:
    """INVERSE banding model: the (planes, tables) a hyperplane index
    needs to hold ``recall_target`` at the CALLER'S ``threshold`` —
    the solve ``lsh_params`` deliberately does not do (it holds recall
    at ``NEARDUP_COS`` and only reports the achieved number at weak
    thresholds).  This is the actuator-side math for the persistent
    vector index (``dedup_index.vector_index_recall_autotune``): its
    sensor measures recall at an operator-chosen threshold, and a
    breach needs a geometry sized for THAT threshold, not for clones.

    Solve (p = 1 - θ/π at the threshold): start planes at the
    candidate-budget fixpoint (identical math to ``lsh_params`` —
    planes = ⌈log2(N·tables/budget)⌉, what keeps random candidates
    linear in N), then compute the tables the target needs there,
    ``tables = ⌈ln(1-target) / ln(1-p^planes)⌉``.  When that exceeds
    ``max_tables``, shed planes one at a time: each plane removed
    multiplies the per-table match probability by 1/p (slashing the
    tables bill) at the price of DOUBLING random candidates per
    vector — the honest cost of holding recall at a weak threshold,
    reported in ``expected_random_candidates_per_vector`` rather than
    hidden.  ``feasible=False`` (with the widest geometry and its
    achieved prediction) when even ``min_planes``/``max_tables``
    cannot reach the target — the caller decides whether the achieved
    number is acceptable.

    There is NO structurally exact endpoint in this family (a frozen
    geometry cannot widen to brute force), so the prediction here is
    a banding closed form, not a guarantee — the autotune verb pairs it with
    the measured sensor."""
    if not 0.0 < recall_target < 1.0:
        raise ValueError(f"recall_target must be in (0, 1), got {recall_target}")
    if not -1.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (-1, 1), got {threshold}")
    n = max(int(n_vectors), 2)
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi

    def _tables_needed(planes: int) -> float:
        match = p**planes
        if match >= 1.0:
            return 1.0
        if match <= 0.0:
            return math.inf
        return math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - match))

    # planes ↔ tables fixpoint (the lsh_params alternation, with the
    # recall solve at the caller's threshold): planes from the
    # candidate budget at the CURRENT tables, shed until the tables
    # bill fits, tables from the recall target at those planes.  A
    # single budget pass at min_tables would stop too shallow — the
    # recall solve raises tables, which affords deeper planes, which
    # cuts random candidates (measured example at 1M/threshold 0.9/
    # target 0.9: one-shot (18 planes, 37 tables) carries 141 random
    # candidates/vector; the fixpoint's (21, 59) carries 28, back at
    # the budget, for the same predicted recall).  At a converged
    # fixpoint with no shedding, candidates ≤ budget by construction;
    # when shedding binds (weak thresholds), candidates exceed the
    # budget and the overshoot is reported, never hidden.
    tables = min_tables
    planes = min_planes
    for _ in range(6):
        planes = math.ceil(
            math.log2(max(n * tables / max(candidates_per_vector, 1e-9), 2.0))
        )
        planes = min(max(planes, min_planes), max_planes)
        while planes > min_planes and _tables_needed(planes) > max_tables:
            planes -= 1
        need = _tables_needed(planes)
        new_tables = int(min(max(need, min_tables), max_tables))
        if new_tables == tables:
            break
        tables = new_tables
    need = _tables_needed(planes)
    feasible = need <= max_tables
    tables = int(min(max(need if feasible else max_tables, min_tables), max_tables))
    return {
        "planes": planes,
        "tables": tables,
        "feasible": feasible,
        "threshold": threshold,
        "recall_target": recall_target,
        "predicted_recall_at_threshold": 1.0 - (1.0 - p**planes) ** tables,
        "expected_random_candidates_per_vector": n * tables / 2.0**planes,
    }


#: Clamps for :func:`oracle_geometry` — the SQL-replayable demo law.
ORACLE_MIN_PLANES, ORACLE_MAX_PLANES = 4, 30
ORACLE_MIN_TABLES, ORACLE_MAX_TABLES = 8, 64


def oracle_tables_for_planes(planes: int) -> int:
    """Tables holding 0.9 near-dup recall (at ``NEARDUP_COS``) for a
    given plane count — the ``lsh_params`` recall solve, broken out
    so a static SQL CASE over the bounded planes range can replay it
    (the transcendentals run HERE, in Python, once per plane value;
    the SQL only looks the result up, so no cross-engine libm drift
    can flip a geometry)."""
    p_dup = 1.0 - math.acos(NEARDUP_COS) / math.pi
    miss = 1.0 - p_dup**planes
    want = (
        math.ceil(math.log(0.1) / math.log(miss))
        if 0.0 < miss < 1.0
        else ORACLE_MAX_TABLES
    )
    return min(max(want, ORACLE_MIN_TABLES), ORACLE_MAX_TABLES)


def oracle_geometry(n_vectors: int) -> tuple[int, int]:
    """(tables, planes) for the SQL-replayable N-scaled LSH demo row.

    The full ``lsh_params`` solve is a float fixpoint a SQL engine
    cannot be trusted to reproduce bit-for-bit, so the registry row
    uses this integer-exact restriction of the same two laws:

    - ``planes = clamp(bit_length(N) - 2, 4, 30)`` — i.e.
      ⌈log2(N·16/32)⌉ with a nominal 16 tables, computed via integer
      bit-length (SQL: ``length(bin(n)) - 2``), so random candidates
      per vector stay O(1) and total candidate mass stays LINEAR in
      N (the pinned 8×4 demo geometry this replaced was measured
      quadratic: 82.8× wall at 10× rows in the r11 sf1 sweep).
    - ``tables = oracle_tables_for_planes(planes)`` — the recall law
      at ``NEARDUP_COS``, materialized as a 27-entry lookup both
      engines share (Python computes it; the oracle SQL embeds it as
      a literal CASE).

    Candidates/vector stays 20–100 and predicted near-dup recall
    ≥0.9 from n=500 through n=10⁹ (planes clamp binds past ~5·10⁸).
    Recall at WEAK thresholds (the registry row's 0.4) decays with
    planes — the documented, closed-form-predicted price of linear
    candidate mass; see ``lsh_params``."""
    flog2 = max(int(n_vectors).bit_length() - 1, 1)
    planes = min(max(flog2 - 1, ORACLE_MIN_PLANES), ORACLE_MAX_PLANES)
    return oracle_tables_for_planes(planes), planes


def _plane_sign(table: int, plane: int, dim: int) -> int:
    h = hashlib.md5(f"{table}:{plane}:{dim}".encode()).digest()
    return 1 if h[0] & 1 else -1


def _signs_matrix(dim: int, tables: int, planes: int) -> np.ndarray:
    """(dim, tables*planes) ±1 int64 matrix; column index = t*planes + i."""
    return np.array(
        [
            [_plane_sign(t, i, d) for t in range(tables) for i in range(planes)]
            for d in range(dim)
        ],
        dtype=np.int64,
    )


def signature_column(
    vec_col: str, dim: int, tables: int = 8, planes: int = 4
) -> F.Column:
    """``array<long>`` of one signature int per hash table (planes
    bits each), via one Arrow-batched exact-int64 numpy matmul."""
    signs = _signs_matrix(dim, tables, planes)
    bit_weights = np.array([1 << i for i in range(planes)], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # empty Arrow batch: np.stack([]) would throw
            return pd.Series([], dtype=object)
        x = np.stack(v.to_numpy()).astype(np.float64)  # float32 -> exact
        xq = np.floor(x * QUANT_SCALE).astype(np.int64)  # bit-deterministic
        dots = xq @ signs  # exact integer arithmetic, order-free
        bits = (dots > 0).astype(np.int64).reshape(len(v), -1, len(bit_weights))
        return pd.Series(list(bits @ bit_weights))

    return sigs(F.col(vec_col))


def lsh_candidate_pairs(
    emb: DataFrame,
    dim: int = 64,
    tables: int = 8,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct candidate pairs sharing any table's full signature.

    The bucket table ((id, table, sig) — N·tables small-int rows,
    tiny next to the vectors) is cached: it feeds BOTH sides of the
    bucket self-join, and without the cache each side re-runs the
    signature UDF over the full input.  Cache lifecycle: Spark's
    cache manager keys entries by canonicalized plan, so repeated
    calls over the SAME input reuse ONE entry (including the
    downstream `lsh_similarity_pairs` call) — the session holds one
    bucket-table entry per distinct input, evictable LRU like any
    storage-memory block; call ``spark.catalog.clearCache()`` for a
    hard release."""
    buckets = emb.select(
        F.col(id_col),
        F.posexplode(signature_column(vec_col, dim, tables, planes)).alias(
            "t", "sig"
        ),
    ).cache()
    a = buckets.select(F.col(id_col).alias("vec_a"), "t", "sig")
    b = buckets.select(F.col(id_col).alias("vec_b"), "t", "sig")
    return (
        a.join(b, ["t", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def lsh_similarity_pairs_auto(
    emb: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates_per_vector: float = 32.0,
) -> DataFrame:
    """Scale-aware near-dup pairs: (planes, tables) derived from the
    MEASURED corpus size via ``lsh_params`` (one count() job — the
    same measured-sizing pattern as ``connected_components``), then
    the standard bucket→verify pipeline.
    This is the entry point a growing corpus should use; the
    registered query's fixed 4/8 knobs are an oracle-parity fixture.
    Validated at 20k and 200k vectors in STRESS_sf1_r05: random
    candidates per vector flat at the budget, exact-clone recall
    1.0."""
    p = lsh_params(
        emb.count(), threshold=threshold, candidates_per_vector=candidates_per_vector
    )
    return lsh_similarity_pairs(
        emb,
        threshold=threshold,
        dim=dim,
        tables=p["tables"],
        planes=p["planes"],
        id_col=id_col,
        vec_col=vec_col,
    )


def lsh_dedup_edges_auto(
    emb: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates_per_vector: float = 32.0,
) -> DataFrame:
    """Scale-aware star-edge dedup graph: sizing derived from the
    measured REPRESENTATIVE count (the post-exact-dedup corpus is
    what the LSH actually runs on — sizing from the raw count would
    overshoot planes on clone-heavy corpora), then
    ``lsh_dedup_edges`` with those knobs.  The growing-corpus entry
    point, symmetric with ``lsh_similarity_pairs_auto``."""
    _, reps = exact_vector_star_edges(emb, id_col, vec_col)
    p = lsh_params(
        reps.count(),
        threshold=threshold,
        candidates_per_vector=candidates_per_vector,
    )
    return lsh_dedup_edges(
        emb,
        threshold=threshold,
        dim=dim,
        tables=p["tables"],
        planes=p["planes"],
        id_col=id_col,
        vec_col=vec_col,
    )


def foldl_dot_column(a_col: str, b_col: str) -> F.Column:
    """Exact-fold dot product as an Arrow-batched numpy kernel.

    Bit-identical to ``dot_double`` (the ``F.aggregate`` fold with a
    double accumulator): products are computed per-dimension in
    float64 (float32 inputs widen exactly), then accumulated
    LEFT-TO-RIGHT — one vectorized add per dimension, so every row
    sees the identical IEEE operation sequence ``(..(0.0 + p0) + p1)
    + ...`` the interpreted fold performs.  Exists because Catalyst
    does not codegen higher-order functions: at ~1e6 candidate pairs
    the interpreted fold is the whole query's bottleneck (round-4
    profile: 4 s of 5.9 s), while this kernel is one Python hop per
    Arrow batch.  Equality with the fold expression is pinned in
    tests/test_similarity.py."""

    @F.pandas_udf("double")
    def dots(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:  # empty Arrow batch: np.stack([]) would throw
            return pd.Series([], dtype=np.float64)
        x = np.stack(a.to_numpy()).astype(np.float64)
        y = np.stack(b.to_numpy()).astype(np.float64)
        prod = x * y
        acc = np.zeros(len(a), dtype=np.float64)
        for d in range(prod.shape[1]):
            acc = acc + prod[:, d]
        return pd.Series(acc)

    return dots(F.col(a_col), F.col(b_col))


def exact_vector_star_edges(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate vector groups as STAR edges: ``(vec_a=rep,
    vec_b=member)`` with rep = min id per bitwise-identical embedding
    — g-1 edges per clone group instead of the g²/2 all-pairs the
    similarity join emits (the 100× stress spent 127 s emitting 9.97M
    such pairs).  Returns ``(edges, representatives)``.

    Grouping is on the raw array column (Spark hashes/compares arrays
    element-wise), so \"exact\" means bit-identical floats — precisely
    the re-crawl clone case.  Star edges carry ``cosine = 1.0``
    literally: identical vectors are definitionally at cosine 1, and
    emitting the literal avoids a spurious float divide."""
    from data_engineering_user_session_analysis_spark.operators.dedup import min_id_star_edges

    edges_raw, reps = min_id_star_edges(emb, [vec_col], id_col)
    edges = edges_raw.select(
        F.col("_rep").alias("vec_a"),
        F.col(id_col).alias("vec_b"),
        F.lit(1.0).alias("cosine"),
    )
    return edges, reps.select(F.col("_rep").alias(id_col))


def lsh_dedup_edges(
    emb: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    tables: int = 8,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Linear-output embedding near-dup edge set: exact-clone star
    edges UNION LSH-verified cosine pairs over the distinct-vector
    REPRESENTATIVES only.

    Connected components equal ``lsh_similarity_pairs`` over the full
    corpus: clone-group members reach their rep via star edges, and a
    rep's candidate/verify behavior is identical to any member's
    (identical vectors → identical signatures → same buckets), so
    cross-group connectivity is preserved with the same recall
    (within-group recall improves to 1.0 — the digest groupBy is
    deterministic where bucketing is probabilistic).  Pinned against
    the all-pairs form in tests/test_similarity.py.  Output:
    ``vec_a, vec_b, cosine`` — the same shape ``lsh_similarity_pairs``
    emits, so cluster consumers swap in unchanged."""
    star, reps = exact_vector_star_edges(emb, id_col, vec_col)
    rep_emb = emb.join(reps, id_col, "left_semi")
    near = lsh_similarity_pairs(
        rep_emb,
        threshold=threshold,
        dim=dim,
        tables=tables,
        planes=planes,
        id_col=id_col,
        vec_col=vec_col,
    )
    return near.unionByName(star)


def lsh_similarity_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    tables: int = 8,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs: exact cosine scoring of
    candidates only (precision 1.0; recall = LSH catch rate)."""
    from data_engineering_user_session_analysis_spark.queries.similarity_queries import dot_double

    candidates = lsh_candidate_pairs(emb, dim, tables, planes, id_col, vec_col)
    n = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(dot_double(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    )
    a = n.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"), F.col("nrm").alias("nb")
    )
    return (
        candidates.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn(
            "cosine",
            foldl_dot_column("ea", "eb") / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )
