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

Sizing rule (``oracle_geometry``): random near-orthogonal pairs
collide with probability ≈ tables/2^planes, so expected random
candidates per vector ≈ N·tables/2^planes — planes must grow with
log2(N) to keep the candidate set linear in N (a FIXED bucket-size
target keeps Σ bucket² quadratic: bucket size B means B·tables
candidates per vector, and r04's B=125 rule produced a 66× verify
overhead at 20k vectors).  ``oracle_geometry`` takes
``planes = clamp(bit_length(N) - 2, 4, 30)`` — ⌈log2(N·16/32)⌉ in
integer arithmetic — and then the tables that hold 0.9 recall at
NEAR-DUP cosine (``NEARDUP_COS``, ≥0.95) at that depth
(``oracle_tables_for_planes``).
What deep planes give up is the weak-similarity tail (cos 0.4-0.7,
θ≈50-66°, per-table p^planes collapses) — the production near-dup
posture, stated rather than hidden: exact clones (cos 1.0) are
caught at ANY depth (identical signatures), and the stress bench
records measured clone-pair recall alongside the candidate counts.
The 4-plane/8-table default is tuned for the tiny test corpus's
weak 0.4-cosine threshold (the registered query pins it so its
DuckDB oracle replays a fixed construction).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT_SCALE = 1_000_000  # signature quantization: floor(x * 1e6)

#: Cosine at which `oracle_geometry` holds its recall target: true
#: near-duplicates (re-crawls, boilerplate copies) sit at ≥0.95.
NEARDUP_COS = 0.95

#: Clamps for :func:`oracle_geometry` — the SQL-replayable demo law.
ORACLE_MIN_PLANES, ORACLE_MAX_PLANES = 4, 30
ORACLE_MIN_TABLES, ORACLE_MAX_TABLES = 8, 64


def oracle_tables_for_planes(planes: int) -> int:
    """Tables holding 0.9 near-dup recall (at ``NEARDUP_COS``) for a
    given plane count, ``tables = ⌈ln(0.1) / ln(1 - p^planes)⌉`` with
    ``p = 1 - θ/π`` the per-plane agreement probability, computed here
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

    A float planes↔tables fixpoint cannot be trusted to replay
    bit-for-bit in SQL, so the registry row uses two integer-exact
    laws:

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
    candidate mass (recall at cosine c is 1 - (1 - p(c)^planes)^tables)."""
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
