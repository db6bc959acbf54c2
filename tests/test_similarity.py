"""Similarity-search quality: the approximate (IVF / LSH) paths must
track the exact brute-force baselines."""

from __future__ import annotations

import numpy as np

from data_engineering_user_session_analysis_spark.queries import QUERIES


def test_ann_recall_vs_brute_force(spark, sf_small):
    true3 = {
        (r.q_id, r.neighbor_id)
        for r in QUERIES["knn_brute_force"](spark, sf_small)
        .filter("rank <= 3")
        .collect()
    }
    ann3 = {
        (r.q_id, r.neighbor_id)
        for r in QUERIES["ann_ivf_topk"](spark, sf_small).collect()
    }
    assert true3, "brute-force baseline empty"
    recall = len(true3 & ann3) / len(true3)
    # nprobe=2 over random (clusterless) embeddings: measured ~0.7
    # at sf0.01; the floor guards against the cell search degenerating.
    assert recall >= 0.45, f"ANN recall@3 collapsed: {recall:.3f}"


def test_label_centroids_math(spark, sf_small):
    """(label, dim) means == numpy mean of that label's vectors."""
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").collect()
    by_label: dict[int, list[np.ndarray]] = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype="float64"))
    rows = QUERIES["label_centroids"](spark, sf_small).collect()
    got: dict[int, dict[int, float]] = {}
    n_vectors: dict[int, int] = {}
    for r in rows:
        got.setdefault(r.label, {})[r.dim] = r.mean_x
        n_vectors[r.label] = r.n_vectors
    assert set(got) == set(by_label)
    for label, vecs in by_label.items():
        dims = got[label]
        assert sorted(dims) == list(range(len(vecs[0])))
        assert n_vectors[label] == len(vecs)
        centroid = np.array([dims[d] for d in range(len(vecs[0]))])
        # query rounds to 1e-6 for cross-engine hash stability
        assert np.allclose(centroid, np.mean(vecs, axis=0), atol=5e-7 + 1e-9)


def _exact_cosine_pairs(spark, sf_dir, threshold=0.4):
    """All-pairs exact ground truth, computed in numpy (the corpus is
    tiny at test SF; the registered query is the LSH-bucketed path)."""
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = [r.vec_id for r in rows]
    mat = np.array([r.embedding for r in rows], dtype="float64")
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    pairs = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = sorted((ids[i], ids[j]))
            if cos[i, j] >= threshold:
                pairs.add((a, b))
    return pairs


def test_vector_lsh_recall_and_precision(spark, sf_small):
    """The registered embedding_neardup (hyperplane-LSH buckets) emits
    a subset of the exact all-pairs ground truth (precision 1.0), and
    its recall tracks the banding closed form's OWN prediction for
    the N-scaled ``oracle_geometry`` — at this weak threshold
    (cos>=0.4 pairs sit near 66°, the hard LSH regime) recall decays
    as planes deepen with N, by design; the pin is that measured ≈
    predicted, not that recall stays high (the driver corpus has no
    pair above cos 0.6, so the near-dup regime is covered by
    test_vector_lsh_planted_neardup_recall)."""
    import math

    from data_engineering_user_session_analysis_spark.sources.tables import load_table
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        oracle_geometry,
    )

    exact = _exact_cosine_pairs(spark, sf_small, threshold=0.4)
    lsh = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["embedding_neardup"](spark, sf_small).collect()
    }
    assert lsh <= exact, "LSH emitted a pair the exact method rejects"
    assert exact, "no exact pairs to measure against"
    recall = len(lsh) / len(exact)
    n = load_table(spark, sf_small, "embeddings").count()
    tables, planes = oracle_geometry(n)
    # Banding prediction at the corpus's pair regime (~cos 0.45).
    p = 1.0 - math.acos(0.45) / math.pi
    predicted = 1.0 - (1.0 - p**planes) ** tables
    assert recall >= 0.5 * predicted, (
        f"LSH recall {recall:.3f} fell below half the closed-form "
        f"prediction {predicted:.3f} at {tables}x{planes}"
    )


def test_vector_lsh_planted_neardup_recall(spark, sf_small):
    """The regime the geometry law actually targets: plant high-cosine
    near-duplicates (tiny perturbations, cos >= 0.99 > NEARDUP_COS)
    and exact clones into the corpus — the tables law holds predicted
    recall >= 0.9 at cos 0.95 for EVERY N, so the planted pairs must
    come back; clones (identical signatures) must come back at
    recall 1.0."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        lsh_similarity_pairs,
        oracle_geometry,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 40)
    clones = base.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    # near-dups: scale one component's copy by nudging every value 1%
    # of itself + epsilon — cosine stays ~0.9999, well above 0.95.
    neardups = base.filter(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"),
    )
    corpus = emb.unionByName(clones).unionByName(neardups)
    tables, planes = oracle_geometry(corpus.count())
    pairs = {
        (r.vec_a, r.vec_b)
        for r in lsh_similarity_pairs(
            corpus, threshold=0.95, dim=64, tables=tables, planes=planes
        ).collect()
    }
    clone_pairs = {(i, i + 100000) for i in range(0, 40, 2)}
    dup_pairs = {(i, i + 200000) for i in range(1, 40, 2)}
    assert clone_pairs <= pairs, (
        f"exact clones missed: {sorted(clone_pairs - pairs)[:5]}"
    )
    dup_recall = len(dup_pairs & pairs) / len(dup_pairs)
    assert dup_recall >= 0.9, f"planted near-dup recall {dup_recall:.2f} < 0.9"


def test_lsh_exact_clone_recall_at_depth(spark, sf_small):
    """Exact clones have identical signatures, so deep planes (the
    geometry the sizing law gives a million-vector corpus) must still
    catch every clone pair — the recall that matters for near-dup
    dedup, pinned end-to-end."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        lsh_similarity_pairs,
        oracle_geometry,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.limit(40)
    shift = 1_000_000
    clones = base.unionByName(
        base.withColumn("vec_id", F.col("vec_id") + shift)
    ).unionByName(base.withColumn("vec_id", F.col("vec_id") + 2 * shift))
    tables, planes = oracle_geometry(10**6)
    pairs = lsh_similarity_pairs(
        clones, threshold=0.4, planes=planes, tables=tables
    )
    caught = pairs.filter(
        (F.col("vec_a") % shift) == (F.col("vec_b") % shift)
    ).count()
    assert caught == 40 * 3, f"clone pairs lost at depth: {caught}/120"


def test_foldl_dot_udf_bit_exact_vs_aggregate_fold(spark):
    """The Arrow-batched exact-scoring kernel must be bit-identical to
    the F.aggregate fold it replaces — same products, same left-to-
    right IEEE accumulation (adversarial values: huge/tiny magnitude
    spread so summation order visibly matters)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.vector_lsh import foldl_dot_column
    from data_engineering_user_session_analysis_spark.queries.similarity_queries import dot_double

    rng = np.random.default_rng(7)
    dim = 64
    scale = np.float32(10.0) ** rng.integers(-8, 8, size=(50, dim)).astype(np.float32)
    a = (rng.standard_normal((50, dim)).astype(np.float32) * scale).tolist()
    b = (rng.standard_normal((50, dim)).astype(np.float32) * scale).tolist()
    df = spark.createDataFrame(
        pd.DataFrame({"a": a, "b": b}),
        "a array<float>, b array<float>",
    )
    got = df.select(
        dot_double(F.col("a"), F.col("b")).alias("fold"),
        foldl_dot_column("a", "b").alias("kernel"),
    ).collect()
    for r in got:
        assert r.fold == r.kernel or (np.isnan(r.fold) and np.isnan(r.kernel)), (
            r.fold,
            r.kernel,
        )


def test_oracle_geometry_law():
    """The SQL-replayable demo law (vector_lsh.oracle_geometry) pinned
    at the four verification decades plus the clamps: planes from the
    EXACT integer bit-length (no float log anywhere an engine could
    round differently), tables from the recall lookup; candidate mass
    N·tables/2^planes stays O(N) — the r11 sweep measured the pinned
    8x4 predecessor quadratic (82.8x wall at 10x rows)."""
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        NEARDUP_COS,
        oracle_geometry,
        oracle_tables_for_planes,
    )
    import math

    assert oracle_geometry(2) == (8, 4)  # min-planes clamp
    assert oracle_geometry(500) == (8, 7)  # sf0.001 / sf0.01
    assert oracle_geometry(2000) == (8, 9)  # sf0.1
    assert oracle_geometry(20000) == (8, 13)  # sf1
    assert oracle_geometry(10**6) == (15, 18)
    assert oracle_geometry(10**9) == (45, 28)
    p_dup = 1.0 - math.acos(NEARDUP_COS) / math.pi
    for n in (500, 2000, 20000, 10**6, 10**9):
        tables, planes = oracle_geometry(n)
        assert tables == oracle_tables_for_planes(planes), n
        # linear candidate mass: bounded random candidates per vector
        # (rises toward the planes clamp at 10^9 but stays O(1))
        assert n * tables / 2**planes <= 200, n
        # near-dup recall holds at every decade
        assert 1 - (1 - p_dup**planes) ** tables >= 0.9, n
