"""IVF (inverted-file) approximate nearest neighbors — the bucketed
scale path for similarity search over an embedding column.

Construction: K coarse centroids ("seeds"); every vector joins the
cell of its max-dot centroid; a query searches only its own top
``nprobe`` cells exactly.  Cost per query drops from N dots to
``nprobe * N/K``, and the index is one extra small column.

Sizing (``ivf_cells_for_n``): K ≈ ⌈√N⌉, the standard IVF balance —
assignment work is N·K dots and per-query probe work is nprobe·N/K,
and √N equalizes the two growth rates.  A FIXED K is wrong in both
directions: at 100× the corpus each cell is 100× bigger (probes
degenerate into scans), while K ~ N (the round-1 ``vec_id % m``
scheme) makes assignment quadratic.  K is clamped to [16, 4096]:
above 4096 the centroid broadcast stops being trivially small and a
hierarchical (two-level) coarse quantizer is the production answer.

Seed selection (``select_seeds``): the K vectors with the smallest
``md5(vec_id)`` — a deterministic uniform pseudo-random sample,
reproducible across runs/engines with no stored model.  (Production
quality wants k-means over a bounded sample; any seeds DataFrame can
be passed to ``ivf_topk`` directly.)  The registered ``ann_ivf_topk``
query instead pins a LITERAL seed list so its DuckDB oracle replays
the identical construction (reference parity:
``SURVEY.md §2`` similarity tier).

Recall honesty: on clusterless data, IVF recall is ≈ the searched
fraction (nprobe/K) — there is nothing to exploit.  Its operating
regime is clustered/duplicated corpora (the near-dup retrieval case:
a vector's clones land in ITS OWN cell), which is what the clone
recall tests pin at derived-K scale.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.vector_lsh import foldl_dot_column

IVF_MIN_CELLS = 16
IVF_MAX_CELLS = 4096


def ivf_cells_for_n(n_vectors: int) -> int:
    """K ≈ ⌈√N⌉, clamped to [16, 4096] — see module docstring."""
    return min(max(math.ceil(math.sqrt(max(n_vectors, 1))), IVF_MIN_CELLS), IVF_MAX_CELLS)


def select_seeds(
    emb: DataFrame, k_cells: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic K-seed sample: smallest md5(id) wins.  One
    TakeOrdered job over (hash, id, vector) — O(N) scan, O(K) result,
    no full sort materialized."""
    return (
        emb.select(
            F.col(id_col).alias("sid"),
            F.col(vec_col).alias("se"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(k_cells)
        .drop("_h")
    )


def select_seeds_d2(
    emb: DataFrame,
    k_cells: int,
    rounds: int = 4,
    oversample: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """D²-weighted seed selection (the k-means|| scheme of Bahmani et
    al., VLDB 2012, in its spherical form) — the seeding that fixes
    what the md5 sample structurally cannot: a uniform sample draws
    seeds ∝ cluster SIZE, so on a corpus of many natural clusters the
    small ones expect zero seeds (1M points / 1000 clusters / K=1000
    ⇒ ~37% of clusters unseeded) and Lloyd rounds rarely migrate a
    centroid across empty cosine space into them.  That starvation is
    the measured failure of the 1M clustered grids (STRESS_sf1_r09:
    auto-point recall 0.57 md5 / 0.70 after x3 Lloyd / 0.73 after
    x10, vs 0.97 predicted).  D² sampling draws new seeds ∝ squared
    distance to the nearest existing seed, so unseeded clusters are
    found with probability ∝ their spread, not their population.
    Measured on the same corpus (``d2 init`` grid): auto point
    0.90, recall 1.0 reached at (8,16) — and mean assign-cos barely
    moved (0.633 → 0.628), confirming the proxy metric cannot see
    the starvation that recall does.  Cost (round-10 incremental
    state, measured across SEVEN isolated fresh-JVM 1M/K=1000 runs,
    STRESS_sf1_r10 ``d2 init isolated rerun``): init alone 35–97 s,
    full d2 refine ×3 60–170 s (round-9 form: 71–261 s; md5-init
    Lloyd ×3 alone is 5.9 s).  The residual raw spread is the BOX,
    not the algorithm: the tier's paired fixed-size CPU probe ran
    0.18 s vs 0.42 s (2.3×) across the same runs — microVM host
    steal — and probe-NORMALIZED init/refine costs agree within
    1.3×.  The round-9 algorithmic dispersion source (lazy kernel
    recomputation of the growing candidate set under each round's
    TakeOrdered) is gone by construction — see the incremental-state
    note in the body.

    DOMAIN: d2 init pays off when starvation binds — K at or below
    the corpus's natural cluster count (at K=1000 over 1000
    clusters, ~37% of clusters expect zero uniform seeds).  At
    K ≫ clusters uniform sampling already seeds every cluster
    (K=4096 over 1000 clusters: ~4 expected seeds each) and the
    measured grid is d2-NEUTRAL (K=4096 ``d2 init``: auto 0.70 vs
    md5's 0.73, ceiling 0.80 vs 0.83 — within sample noise); the
    residual recall gap there is probe-side neighbor scatter, where
    the lever is width (``ivf_index_probe_autotune``), not seeding.

    Each round is ONE map-only Arrow pass over a checkpointed
    best-so-far state, scoring only that round's ≤ ⌈oversample·K⌉
    NEW candidates (``_best_cos_combine_udf`` — d² = 2·(1−cos) on
    the unit sphere, BLAS-scored: the init has no bit-parity
    obligation, see ``_max_cos_matmul_kernel``) plus one bounded
    TakeOrdered over the state's NARROW columns: candidates are
    drawn by Efraimidis–Spirakis weighted reservoir keys (u^(1/w),
    realized as ln(u)/d² with a DETERMINISTIC md5(id:round) uniform
    — the same engine-portable hash-randomness discipline as the
    sampling operators).  The driver never holds more than the
    O(rounds·oversample·K) candidate set — the same bounded-by-K
    collect class as the seed arrays themselves.

    The final reduction to K seeds runs DRIVER-SIDE: the candidate
    weights (corpus points each wins) fall out of the final state as
    one narrow groupBy — no extra corpus pass — then weighted
    spherical k-means over the ≤ rounds·2K candidate matrix in numpy
    — at the K=4096 ceiling that is a ~32k×64 problem, microseconds
    next to one corpus pass.

    Output is the standard ``(sid, se)`` seeds frame (dense synthetic
    sids), drop-in for ``write_ivf_index(seeds=...)`` /
    ``kmeans_refine_seeds(init="d2")``.  Like refined seeds, d²
    seeds are a QUALITY path (float means, not corpus vectors);
    oracle-replayable fixtures keep ``select_seeds``."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    l_round = int(math.ceil(oversample * k_cells))
    # first seed: the md5-min corpus vector (deterministic)
    first = select_seeds(emb, 1, id_col=id_col, vec_col=vec_col)
    cand_rows = [(0, list(r["se"])) for r in first.collect()]
    if not cand_rows:
        raise ValueError("select_seeds_d2 on an empty corpus")
    spark = emb.sparkSession

    # INCREMENTAL best-so-far state (round 10): the original form
    # re-scored the full corpus against the full (growing) candidate
    # set every round PLUS one final whole-set pass for the weights —
    # and the per-round TakeOrdered re-ran that kernel lazily, which
    # is where the measured 71–261 s cost dispersion at 1M lived
    # (VERDICT r09 #5).  The state frame carries (id, vec, best cell,
    # best cos) through an eager localCheckpoint, so each round scores
    # ONLY the ≤ l_round NEW candidates (one map pass, strict-greater
    # combine keeps the lowest-sid winner on ties — identical argmax
    # semantics to the one-shot kernel), the TakeOrdered reads
    # materialized narrow columns instead of recomputing the kernel,
    # the winners' vectors come from the state itself (no join back
    # to the corpus), and the final weight histogram is a FREE
    # groupBy on the last state — one whole corpus pass removed and
    # every remaining pass O(new candidates), not O(all candidates).
    # Each round's seed broadcast is released once the checkpoint has
    # materialized (ADVICE r09: the unreleased per-round broadcasts).
    def _score_new(frame, new_rows: list, first_pass: bool):
        bc = _unit_seed_broadcast(
            spark, spark.createDataFrame(new_rows, "sid long, se array<double>")
        )
        if first_pass:
            out = frame.select(
                F.col(id_col),
                F.col(vec_col).alias("_v"),
                _best_cos_udf(bc)(F.col(vec_col)).alias("_a"),
            )
        else:
            out = frame.select(
                F.col(id_col),
                F.col("_v"),
                _best_cos_combine_udf(bc)(
                    F.col("_v"), F.col("cell"), F.col("assign_cos")
                ).alias("_a"),
            )
        out = out.select(
            id_col, "_v",
            F.col("_a.cell").alias("cell"),
            F.col("_a.assign_cos").alias("assign_cos"),
        ).localCheckpoint(eager=True)
        bc.unpersist()
        return out

    state = _score_new(emb, cand_rows, first_pass=True)
    for rnd in range(rounds):
        # Efraimidis–Spirakis key u^(1/w) ⟺ maximize ln(u)/w; w = d²
        # = 2(1−cos) clipped at 0 (w=0 ⇒ −inf: already-covered points
        # are never drawn).  u from md5(id:round) — deterministic.
        u = F.greatest(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(rnd)))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(16**15)),
            F.lit(1e-18),
        )
        w = F.greatest(F.lit(0.0), F.lit(2.0) * (F.lit(1.0) - F.col("assign_cos")))
        # TakeOrdered over narrow (id, key) columns of the CHECKPOINTED
        # state; the ≤ l winners' vectors come from the same state via
        # a broadcast semi-join — never a corpus-wide shuffle of the
        # embedding column, and no kernel recomputation.
        winners = (
            state.withColumn(
                "_key",
                F.when(w > 0, F.log(u) / w).otherwise(F.lit(float("-inf"))),
            )
            # already-covered points (w=0 ⇒ key −inf) must never pad
            # the winner set: on a small or saturated corpus the limit
            # would otherwise fill with duplicates of existing
            # candidates, double-counting their weight downstream
            .filter(F.col("_key") > F.lit(float("-inf")))
            .orderBy(F.desc("_key"), F.col(id_col))
            .limit(l_round)
            .select(id_col)
        )
        picked = (
            state.join(F.broadcast(winners), id_col)
            .select("_v")
            .collect()
        )
        if not picked:
            break  # saturated: no uncovered mass left to draw from
        base = len(cand_rows)
        new_rows = [
            (base + i, [float(x) for x in r["_v"]]) for i, r in enumerate(picked)
        ]
        cand_rows = cand_rows + new_rows
        state = _score_new(state, new_rows, first_pass=False)
    # weight candidates by the corpus points they win — the final
    # state already holds the nearest-candidate assignment including
    # the last round's picks, so the histogram is one narrow groupBy
    counts = {
        r["cell"]: r["n"]
        for r in state.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    mat = np.array([v for _, v in cand_rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    mat = mat[nrm > 0] / nrm[nrm > 0, np.newaxis]
    wts = np.array(
        [counts.get(sid, 0) for (sid, _), keep in zip(cand_rows, nrm > 0) if keep],
        dtype=np.float64,
    )
    if len(mat) <= k_cells:
        seeds = [(i, row.tolist()) for i, row in enumerate(mat)]
        return spark.createDataFrame(seeds, "sid long, se array<double>")
    centers = _weighted_spherical_kmeans(mat, wts, k_cells)
    return spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(centers)],
        "sid long, se array<double>",
    )


def _max_cos_matmul_kernel(
    emb: DataFrame, seeds: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """BLAS twin of ``_assign_cells_cos_kernel`` for the D²-init
    passes: one ``x @ seedsᵀ`` matmul per Arrow batch instead of the
    per-dimension foldl sweep.  The foldl order exists so index
    ASSIGNMENT is bit-identical to the crossJoin+fold construction —
    a parity the init does not need (its output feeds a weighted
    sample and a weight histogram, never the stored assignment) —
    and it allocates a (batch × C) temp per dimension, which at the
    init's growing candidate sets (C up to rounds·2K ≫ K) turns
    into a memory-bandwidth burn: the first 1M d2 run spent 30+ min
    in the fold kernel (66% kernel time, allocation churn) where
    the matmul form finishes the same passes in seconds.  Scores by
    COSINE (both sides normalized — d² = 2(1−cos) is the sphere
    distance the sampler weights by).  Deterministic for a fixed
    environment; not bit-portable across BLAS builds — acceptable
    for a quality path (the reproducibility-bearing parts are the
    md5 draws and the RandomState(0) reduction)."""
    bc = _unit_seed_broadcast(emb.sparkSession, seeds)
    best_cos = _best_cos_udf(bc)
    return emb.select(id_col, best_cos(F.col(vec_col)).alias("_a")).select(
        id_col, F.col("_a.cell").alias("cell"), F.col("_a.assign_cos").alias("assign_cos")
    )


def _unit_seed_broadcast(spark, seeds: DataFrame):
    """(sids, unit seed matrix) as a SparkContext broadcast — the
    shared state of the chunked-BLAS cosine kernels."""
    seed_rows = seeds.orderBy("sid").collect()
    mat = np.array([list(r["se"]) for r in seed_rows], dtype=np.float64)
    nrms = np.linalg.norm(mat, axis=1)
    nrms[nrms == 0] = 1.0
    return spark.sparkContext.broadcast(
        (np.array([r["sid"] for r in seed_rows], dtype=np.int64), mat / nrms[:, np.newaxis])
    )


def _best_cos_udf(bc):
    """The chunked-BLAS max-cosine pandas UDF over a broadcast unit
    seed matrix (see ``_max_cos_matmul_kernel`` for the memory math
    and the determinism statement)."""

    @F.pandas_udf("cell long, assign_cos double")
    def best_cos(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame(
                {"cell": pd.Series([], dtype=np.int64),
                 "assign_cos": pd.Series([], dtype=np.float64)}
            )
        seed_ids, unit_seeds = bc.value
        x = np.stack(v.to_numpy()).astype(np.float64)
        xn = np.linalg.norm(x, axis=1)
        xn[xn == 0] = 1.0
        x = x / xn[:, np.newaxis]
        # chunk rows so the (rows × C) score temp stays bounded: at
        # the init's late rounds C reaches rounds·2K (33k at K=4096),
        # where a full 10k-row Arrow batch would allocate a 2.6 GB
        # temp PER TASK — 32 concurrent tasks of that is the box.
        # ~500 rows × 33k × 8 B ≈ 135 MB keeps BLAS in cache-friendly
        # panels with zero change to the scores (row chunks are
        # independent dots — bit-identical output).  Measured at 1M /
        # K=4096: the unchunked init's corpus passes ran ~8 min EACH
        # (select_seeds_d2 ≈ 50 min of the 3157 s refine,
        # STRESS_sf1_r09 k_cells=4096 d2 grid); chunked, the whole
        # init is 115 s (same file, "d2 init alone" line) — 26×.
        chunk = max(1, int(2**24 // max(len(seed_ids), 1)))  # ~128 MB f64
        cells, coss = [], []
        for lo in range(0, len(x), chunk):
            cos = x[lo : lo + chunk] @ unit_seeds.T
            idx = np.argmax(cos, axis=1)
            cells.append(seed_ids[idx])
            coss.append(cos[np.arange(len(idx)), idx])
        return pd.DataFrame(
            {"cell": np.concatenate(cells), "assign_cos": np.concatenate(coss)}
        )

    return best_cos


def _best_cos_combine_udf(bc):
    """Incremental twin of ``_best_cos_udf`` for the d2 init's
    best-so-far state: scores the batch against only the NEW
    candidates in the broadcast and combines with the carried
    (cell, assign_cos) — the new candidate wins only on STRICTLY
    greater cosine, so ties keep the lowest sid (new sids are always
    higher), preserving the one-shot kernel's first-argmax-in-sid-
    order semantics.  Same chunking and determinism posture as the
    one-shot kernel (see ``_max_cos_matmul_kernel``)."""

    @F.pandas_udf("cell long, assign_cos double")
    def comb(v: pd.Series, pcell: pd.Series, pcos: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame(
                {"cell": pd.Series([], dtype=np.int64),
                 "assign_cos": pd.Series([], dtype=np.float64)}
            )
        seed_ids, unit_seeds = bc.value
        x = np.stack(v.to_numpy()).astype(np.float64)
        xn = np.linalg.norm(x, axis=1)
        xn[xn == 0] = 1.0
        x = x / xn[:, np.newaxis]
        chunk = max(1, int(2**24 // max(len(seed_ids), 1)))
        cells, coss = [], []
        for lo in range(0, len(x), chunk):
            cos = x[lo : lo + chunk] @ unit_seeds.T
            idx = np.argmax(cos, axis=1)
            cells.append(seed_ids[idx])
            coss.append(cos[np.arange(len(idx)), idx])
        ncell = np.concatenate(cells)
        ncos = np.concatenate(coss)
        prev_cell = pcell.to_numpy(dtype=np.int64)
        prev_cos = pcos.to_numpy(dtype=np.float64)
        better = ncos > prev_cos  # strict: ties keep the lower sid
        return pd.DataFrame(
            {
                "cell": np.where(better, ncell, prev_cell),
                "assign_cos": np.where(better, ncos, prev_cos),
            }
        )

    return comb


def _weighted_spherical_kmeans(
    unit_mat: np.ndarray, weights: np.ndarray, k: int, iters: int = 10
) -> np.ndarray:
    """Driver-side weighted spherical k-means over the (small)
    candidate matrix: weighted-k-means++ init (deterministic
    ``RandomState(0)``) then Lloyd with normalized weighted means.
    Zero-weight candidates still count with weight 1e-9 so isolated
    candidates (a cluster's only representative) are not discarded."""
    w = np.maximum(weights, 1e-9)
    rng = np.random.RandomState(0)
    # weighted k-means++: first pick ∝ weight, then ∝ weight·d²
    centers = np.empty((k, unit_mat.shape[1]), dtype=np.float64)
    idx = rng.choice(len(unit_mat), p=w / w.sum())
    centers[0] = unit_mat[idx]
    best_cos = unit_mat @ centers[0]
    for j in range(1, k):
        d2 = np.maximum(0.0, 2.0 * (1.0 - best_cos))
        p = w * d2
        s = p.sum()
        if s <= 0:
            # all candidates covered: fill remaining from the heaviest
            centers[j:] = unit_mat[np.argsort(-w)[: k - j]]
            break
        idx = rng.choice(len(unit_mat), p=p / s)
        centers[j] = unit_mat[idx]
        best_cos = np.maximum(best_cos, unit_mat @ centers[j])
    for _ in range(iters):
        assign = np.argmax(unit_mat @ centers.T, axis=1)
        for j in range(k):
            sel = assign == j
            if not sel.any():
                continue
            m = (unit_mat[sel] * w[sel, np.newaxis]).sum(axis=0)
            n = np.linalg.norm(m)
            if n > 1e-12:
                centers[j] = m / n
    return centers


def _fold_dot(a_col: str, b_col: str):
    """The interpreted ``F.aggregate`` fold dot product — bit-identical
    to ``foldl_dot_column`` (pinned in tests/test_similarity.py), but
    with NO Arrow stage: at fixture scale (N·K in the thousands) each
    pandas-UDF stage costs more in Python-worker round-trip setup than
    the whole interpreted fold, while at scale the relation inverts
    (the round-4 profile: 4 s of fold in a 5.9 s query at ~1e6 pairs).
    ``scorer="fold"`` exists for small-N·K callers like the registered
    fixture query."""
    return F.aggregate(
        F.zip_with(
            F.col(a_col),
            F.col(b_col),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_topk(
    emb: DataFrame,
    anchor_ids: tuple[int, ...],
    seeds: DataFrame,
    nprobe: int = 2,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: str = "auto",
    scorer: str = "arrow",
) -> DataFrame:
    """Exact top-``topk`` by dot product within each anchor's top
    ``nprobe`` cells.  ``seeds`` is a ``(sid, se)`` DataFrame (O(K)
    rows).  Output: (q_id, neighbor_id, rank).

    Two assignment strategies, IDENTICAL output (pinned by
    ``test_ivf_kernel_assignment_equals_fold_construction``):

    - ``assignment="join"``: broadcast crossJoin + per-pair fold dots
      + top-1 window.  No driver round-trip, lowest fixed overhead —
      right when N·K is small (the registered fixture query).
    - ``assignment="kernel"``: the O(K) seed set is collected once
      (broadcast-class — the same bound that justifies F.broadcast on
      it) and embedded in a MAP-ONLY Arrow kernel scoring each vector
      against ALL seeds per batch.  The join path ships N·K row-pairs
      through Arrow (89.6M pairs / ~91 GB at the 200k-vector, K=448
      stress — 6× the whole query) and then aggregates N·K rows for
      the argmax; the kernel moves each vector ONCE and does the
      argmax in-batch (329 s → 31 s at that stress).  Accumulation
      runs per-dimension in the fold's exact left-to-right IEEE
      order, so assignment is bit-identical (ties break to the
      smallest seed id: seeds scored in sid order, argmax takes the
      first maximum).  Costs one extra tiny Spark job (the seed
      collect) — measurable at fixture scale, noise at real scale.
    - ``assignment="auto"`` (default): "kernel" when the seed set
      says the corpus is derived-K-sized (K > 64 ⇒ N ≳ 4k), else
      "join"."""
    if scorer not in ("arrow", "fold"):
        raise ValueError(f"scorer must be 'arrow' or 'fold', got {scorer!r}")
    dot = _fold_dot if scorer == "fold" else foldl_dot_column
    if assignment == "auto":
        assignment = "kernel" if seeds.limit(65).count() > 64 else "join"

    if assignment == "kernel":
        cells = _assign_cells_kernel(emb, seeds, id_col, vec_col)
    else:
        scored = emb.crossJoin(F.broadcast(seeds)).select(
            id_col, "sid", dot(vec_col, "se").alias("dot")
        )
        w_cells = Window.partitionBy(id_col).orderBy(
            F.col("dot").desc(), F.col("sid").asc()
        )
        cells = (
            scored.withColumn("rn", F.row_number().over(w_cells))
            .filter(F.col("rn") == 1)
            .select(id_col, F.col("sid").alias("cell"))
        )
    # Only the O(anchors · K) slice needs real top-nprobe ranking —
    # filter FIRST, then score: anchors·K pairs, not N·K.
    w_assign = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("sid").asc()
    )
    anchor_cells = (
        emb.filter(F.col(id_col).isin(*anchor_ids))
        .crossJoin(F.broadcast(seeds))
        .select(
            F.col(id_col).alias("q_id"),
            "sid",
            dot(vec_col, "se").alias("dot"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", F.col("sid").alias("cell"))
    )
    anchors = anchor_cells.join(
        emb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")),
        "q_id",
    )
    members = emb.join(cells, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_emb"),
        "cell",
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(anchors)
        .join(members, "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            dot("q_emb", "n_emb").alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
        .select("q_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def kmeans_refine_seeds(
    emb: DataFrame,
    k_cells: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "md5",
) -> DataFrame:
    """Lloyd-refine the deterministic md5-sample seeds — the
    "production quality wants k-means" knob the module docstring
    names: random seeds give unbalanced cells on clustered data (a
    fat cell makes every probe touching it pay N_fat dots), and a few
    Lloyd rounds move centroids toward cluster means, evening cell
    sizes and tightening assignment cosines.

    The update is SPHERICAL k-means (normalized per-cell mean): with
    unit-norm centroids, the kernel's max-dot assignment IS max-cosine
    assignment, and Lloyd's alternation provably never decreases the
    mean assignment cosine — the quality metric the persistent index
    already stores as its staleness baseline (so refined builds start
    from a measurably tighter baseline).  An unnormalized mean update
    has no such guarantee under dot assignment.

    Each iteration is one map-only chunked-BLAS COSINE assignment
    pass (``_best_cos_udf`` — the spherical objective; the vector
    rides the same projection, so there is NO corpus self-join) plus
    one ``applyInPandas`` per-cell vectorized mean (ONE shuffle on
    ``cell``; K groups of ~N/K vectors — never a per-dimension
    explode, which would shuffle N·dim rows).  The BUILD's stored
    assignment keeps the bit-parity fold kernel; Lloyd's internal
    assignment has no parity obligation, and the fold kernel's
    per-dimension (batch × K) temps made it the refine bottleneck at
    K=4096 (~8 min per pass vs seconds chunked).  Cells that lose
    all members (or with a vanishing mean) keep their previous
    centroid.
    Output is a ``(sid, se)`` seeds DataFrame with synthetic dense
    sids (centroids are means, not corpus vectors), drop-in for
    ``ivf_topk`` / ``write_ivf_index(seeds=...)``.

    Determinism note: the per-cell mean sums floats in partition
    order, so centroids can differ in final ulps across runs —
    refined seeds are for QUALITY paths; oracle-replayable fixtures
    keep the md5-sample seeds.

    Measured END-TO-END (STRESS_sf1_r09 ``kmeans refinement e2e``,
    193k vectors in 200 skew-sized clusters, K=440, 3 iters =
    11.5 s): at EQUAL nprobe the refined persistent index reaches
    recall@3 1.0 at nprobe=2 where the md5-seed index plateaus at
    0.83 even at nprobe=4; mean assignment cosine 0.78 → 0.91, max
    cell fraction 0.0126 → 0.0089 (flatter cells), probe wall-time
    ~10% lower — the probe-side benefit the knob exists for, not
    just the proxy metric.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if init not in ("md5", "d2"):
        raise ValueError(f"init must be 'md5' or 'd2', got {init!r}")
    spark = emb.sparkSession
    # init="d2": start Lloyd from D²-weighted k-means|| seeds instead
    # of the uniform md5 sample — see select_seeds_d2 for why uniform
    # seeding structurally starves small natural clusters.
    if init == "d2":
        seeds = select_seeds_d2(emb, k_cells, id_col=id_col, vec_col=vec_col)
    else:
        seeds = select_seeds(emb, k_cells, id_col=id_col, vec_col=vec_col)

    def _mean_per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
        # normalize MEMBERS first: sum_i cos(x_i, c) is linear in
        # x_i/||x_i||, so the maximizing unit c is the normalized mean
        # of the UNIT members — meaning raw vectors would weight each
        # member by its norm and break the monotonicity argument
        nrms = np.linalg.norm(mat, axis=1)
        unit = mat[nrms > 0] / nrms[nrms > 0, np.newaxis]
        m = unit.mean(axis=0) if len(unit) else np.zeros(mat.shape[1])
        nrm = float(np.linalg.norm(m))
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                # a vanishing mean (antipodal members) yields None ->
                # the coalesce keeps the previous seed
                "mean_vec": [(m / nrm).tolist() if nrm > 1e-12 else None],
            }
        )

    for _ in range(iters):
        # chunked-BLAS cosine assignment (the spherical objective —
        # the fold kernel scores raw dot, identical once seeds are
        # unit means but biased toward long seeds on the raw md5
        # sample), carrying the vector through the SAME projection so
        # the per-cell mean needs no corpus self-join: one map pass +
        # one shuffle on cell per iteration.  The fold kernel's
        # per-dim (batch x K) temps made this the refine bottleneck
        # at K=4096 (~8 min/pass; the chunked matmul passes run
        # seconds — same 26x class as the d2-init fix).
        bc = _unit_seed_broadcast(spark, seeds)
        means = (
            emb.select(
                F.col(vec_col).alias("_vec"),
                _best_cos_udf(bc)(F.col(vec_col)).alias("_a"),
            )
            .select("_vec", F.col("_a.cell").alias("cell"))
            .groupBy("cell")
            .applyInPandas(_mean_per_cell, "cell long, mean_vec array<double>")
        )
        # empty cells keep their previous centroid (left join + coalesce)
        seeds = (
            seeds.join(means, seeds["sid"] == means["cell"], "left")
            .select(
                "sid",
                F.coalesce(F.col("mean_vec"), F.col("se")).alias("se"),
            )
            .localCheckpoint(eager=True)  # cut the per-iter lineage
        )
        # the eager checkpoint above ran every job that dereferences
        # this iteration's seed broadcast — release it before the next
        # iteration rebinds, or a long refine accumulates dead K×D
        # matrices on the executors (ADVICE r09)
        bc.unpersist()
    # dense synthetic sids: centroids are means, not corpus vectors,
    # so the original ids would be misleading; ordering by old sid
    # keeps the mapping deterministic
    w = Window.orderBy("sid")
    return (
        seeds.withColumn("_new_sid", F.row_number().over(w) - 1)
        .select(F.col("_new_sid").cast("long").alias("sid"), "se")
    )


def ivf_topk_auto(
    emb: DataFrame,
    anchor_ids: tuple[int, ...],
    nprobe: int = 2,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_target: float | None = None,
) -> DataFrame:
    """Scale-aware IVF: K derived from the MEASURED corpus size
    (K ≈ √N — one count() job, the same measured-sizing pattern as
    ``connected_components``), seeds a deterministic md5 sample.
    This is the entry point a 100×-growing corpus should use: the
    registered query's literal seed list is an oracle-parity fixture,
    not a scaling strategy.

    Beyond the flat clamp (⌈√N⌉ > ``IVF_MAX_CELLS``, N ≳ 16.7M) the
    auto path routes through the TWO-LEVEL quantizer (``ivf2_topk``)
    instead of silently degrading into 4096 ever-fatter cells:
    ``nprobe`` becomes the super probe width and 4 cells are searched
    inside the probed supers.  The switch is pinned equal to calling
    ``ivf2_topk`` directly (tests/test_similarity.py).

    ``recall_target`` flows through both regimes: beyond the clamp it
    reaches ``ivf2_topk``'s calibrated sizing; in the flat regime the
    probe depth takes the sizing model's CELL axis (a flat probe is
    the s=1 restriction — no super dilution, so the cell-decay solve
    is the conservative bound; the 200k curve measured recall 1.0
    everywhere on the s=1 row)."""
    n = emb.count()
    k_unclamped = max(math.ceil(math.sqrt(max(n, 1))), IVF_MIN_CELLS)
    if k_unclamped > IVF_MAX_CELLS:
        return ivf2_topk(
            emb,
            anchor_ids,
            k_cells=min(k_unclamped, 65536),
            nprobe_super=nprobe,
            topk=topk,
            id_col=id_col,
            vec_col=vec_col,
            recall_target=recall_target,
        )
    if recall_target is not None:
        sized = ivf2_probe_params(
            k_unclamped, recall_target=recall_target, topk=topk, levels=1
        )
        nprobe = max(nprobe, sized["nprobe_cell"])
    seeds = select_seeds(emb, k_unclamped, id_col=id_col, vec_col=vec_col)
    return ivf_topk(
        emb,
        anchor_ids,
        seeds,
        nprobe=nprobe,
        topk=topk,
        id_col=id_col,
        vec_col=vec_col,
        assignment="kernel",
    )


# ----------------------------------------------------------------- #
# Two-level IVF: the beyond-the-clamp coarse quantizer               #
# ----------------------------------------------------------------- #


def _two_level_arrays(seed_rows) -> dict:
    """The numpy state every two-level path shares, derived from the
    sid-ascending ``(sid, se)`` seed rows ALONE (so the one-shot
    operator, the persistent-index build, appends, and probes all
    reconstruct the identical hierarchy from the stored centroids):
    K1 = ⌈√K⌉ supers = the K1 smallest-md5 cell seeds, and the
    max-dot cell-seed→super map (ties to the smallest super id)."""
    import hashlib

    seed_ids = np.array([r["sid"] for r in seed_rows], dtype=np.int64)
    seed_mat = np.array([list(r["se"]) for r in seed_rows], dtype=np.float64)
    k1 = max(math.ceil(math.sqrt(len(seed_ids))), 2)
    md5 = np.array(
        [hashlib.md5(str(s).encode()).hexdigest() for s in seed_ids]
    )
    super_idx = np.argsort(md5, kind="stable")[:k1]
    sup_ids = seed_ids[super_idx]
    sup_mat = seed_mat[super_idx]
    # cell-seed -> super assignment (tiny: K x K1), driver-side numpy;
    # supers scored in ascending sup_id so first-argmax = smallest id
    acc = np.zeros((len(seed_ids), len(sup_ids)), dtype=np.float64)
    order1 = np.argsort(sup_ids, kind="stable")
    for d in range(seed_mat.shape[1]):
        acc = acc + seed_mat[:, d : d + 1] * sup_mat[np.newaxis, :, d].reshape(1, -1)
    seed_to_sup = sup_ids[order1][np.argmax(acc[:, order1], axis=1)]
    # every super anchors its OWN cell: with unnormalized vectors a
    # huge-norm seed can out-dot another super seed's self-assignment,
    # leaving that super with zero cells — a vector routed there would
    # have no second level to search (argmax over an empty axis).
    # Self-anchoring guarantees >= 1 cell per super on both the
    # assignment and the probe side (same array, same rule).
    seed_to_sup[super_idx] = sup_ids
    return {
        "seed_ids": seed_ids,
        "seed_mat": seed_mat,
        "sup_ids": sup_ids,
        "sup_mat": sup_mat,
        "seed_to_sup": seed_to_sup,
    }


def _route_two_level(x: np.ndarray, tl: dict) -> tuple[np.ndarray, np.ndarray]:
    """Level-wise argmax routing for a batch: best super by dot
    (foldl order, ties to smallest sup id via first-argmax over
    sid-sorted supers), then best cell seed within that super.
    Returns (assigned cell ids, dot to the assigned seed)."""
    sup_ids, sup_mat = tl["sup_ids"], tl["sup_mat"]
    seed_ids, seed_mat = tl["seed_ids"], tl["seed_mat"]
    seed_to_sup = tl["seed_to_sup"]
    acc1 = np.zeros((len(x), len(sup_ids)), dtype=np.float64)
    for d in range(x.shape[1]):
        acc1 = acc1 + x[:, d : d + 1] * sup_mat[np.newaxis, :, d].reshape(1, -1)
    order1 = np.argsort(sup_ids, kind="stable")
    best_sup = sup_ids[order1][np.argmax(acc1[:, order1], axis=1)]
    out = np.empty(len(x), dtype=np.int64)
    out_dot = np.empty(len(x), dtype=np.float64)
    for s in np.unique(best_sup):
        rows = np.where(best_sup == s)[0]
        members = np.where(seed_to_sup == s)[0]  # ascending sid
        acc2 = np.zeros((len(rows), len(members)), dtype=np.float64)
        xm = x[rows]
        sm = seed_mat[members]
        for d in range(x.shape[1]):
            acc2 = acc2 + xm[:, d : d + 1] * sm[np.newaxis, :, d].reshape(1, -1)
        idx = np.argmax(acc2, axis=1)
        out[rows] = seed_ids[members][idx]
        out_dot[rows] = acc2[np.arange(len(rows)), idx]
    return out, out_dot


def _two_level_probe_cells(
    q_rows: list[tuple[int, list]], tl: dict, nprobe_super: int, nprobe_cell: int
) -> dict[int, list[int]]:
    """Query-side cell selection under the two-level restriction:
    rank supers exactly, then the cell seeds inside the probed
    supers.  Driver math is O(queries · (K1 + K/K1 · nprobe_super))
    — broadcast-class for bounded query batches."""
    sup_ids, sup_mat = tl["sup_ids"], tl["sup_mat"]
    seed_ids, seed_mat = tl["seed_ids"], tl["seed_mat"]
    seed_to_sup = tl["seed_to_sup"]
    probe_cells: dict[int, list[int]] = {}
    for q_id, q_vec in q_rows:
        q = np.array(list(q_vec), dtype=np.float64)
        d1 = np.zeros(len(sup_ids))
        for d in range(len(q)):
            d1 = d1 + q[d] * sup_mat[:, d]
        o = np.argsort(sup_ids, kind="stable")
        top_sups = sup_ids[o][np.argsort(-d1[o], kind="stable")[:nprobe_super]]
        cand = np.where(np.isin(seed_to_sup, top_sups))[0]
        d2 = np.zeros(len(cand))
        for d in range(len(q)):
            d2 = d2 + q[d] * seed_mat[cand, d]
        top_cells = seed_ids[cand][np.argsort(-d2, kind="stable")[:nprobe_cell]]
        probe_cells[q_id] = [int(c) for c in top_cells]
    return probe_cells


#: Geometric rank-decay constants for ``ivf2_probe_params``,
#: calibrated against the measured 200k-vector recall curve
#: (STRESS_sf1_r08 ``ivf2 recall curve``) and VALIDATED at the next
#: decade — two 1M-vector curves, natural K=1000 and clamp-boundary
#: K=4096 (STRESS_sf1_r09): the probability that a true neighbor's
#: cell sits past the query's s-th ranked super (resp. c-th ranked
#: cell inside probed supers) is modeled as ``rho^s`` (resp.
#: ``rho^c``).  Conservative fits — the model must under-promise, so
#: the auto-sizer over-probes rather than missing its target.
#: rho_cell=0.6 ⇒ the 0.95 target needs c ≥ 8, the measured
#: recall-1.0 frontier at 200k/K=448 AND 1M/K=1000.  The decay
#: constants transferred across the decade unchanged; what did NOT
#: transfer was the dilution coupling — see the ``2·√(K/1000)``
#: scaling note in ``ivf2_probe_params``.
IVF2_RHO_SUPER = 0.35
IVF2_RHO_CELL = 0.60


def ivf2_probe_params(
    k_cells: int,
    recall_target: float = 0.95,
    topk: int = 3,
    rho_super: float | None = None,
    rho_cell: float | None = None,
    levels: int = 2,
) -> dict:
    """Pick ``(nprobe_super, nprobe_cell)`` to hit a recall target —
    the two-level twin of the LSH tier's ``lsh_params`` sizing: a
    closed-form model calibrated by measurement, returning its
    prediction next to the chosen knobs so callers can log claim vs
    outcome.

    Model: a true neighbor's assigned cell appears at rank i of the
    query's super (resp. in-super cell) ranking with geometrically
    decaying probability, so the miss rate after probing s supers and
    c cells factorizes as ``1 - (1-rho_super^s)(1-rho_cell^c)``.  The
    miss budget ``1 - target`` splits evenly across the two levels
    (``1 - sqrt(target)`` each), each solved in closed form and
    rounded UP.  Clamps: s ≤ K1 (all supers), c ≤ K (all cells), and
    both at least the defaults (2, 4) so auto-sizing never probes
    less than the fixed-knob baseline.  c is floored at ``topk`` —
    fewer probed cells than requested neighbors cannot fill the
    result on sparse corpora.

    One coupling the 200k measurement forced (STRESS r08): the probe
    ranks the candidate cells of ALL probed supers in one global
    list, so widening the super probe DILUTES the ranking — a
    high-dot cell from a foreign super can displace the true
    neighbor's cell from the top-c (measured: recall at fixed c=4
    FALLS 0.9→0.8→0.7 as s goes 2→4→6, and (6,8)/(8,8) measured 0.9
    where every c ≥ max(8, 2s) point measured 1.0).

    The round-9 decade validation (STRESS_sf1_r09, two 1M-vector
    curves) showed the dilution DEEPENS with K: at K=1000 the 200k
    frontier transferred exactly (auto point (4,8) measured recall
    1.0), but at K=4096 — the geometry a beyond-clamp corpus
    actually runs — (4,8) measured 0.9 and the recall-1.0 frontier
    sat at ``c ≥ max(8, 4s)`` ((4,16) measured 1.0).  The candidate
    pool a probed super contributes scales as K/K1 = √K, so the
    coupling is fit as ``c ≥ g·s`` with ``g = max(2,
    round(2·√(K/1000)))``: g=2 at K ≤ ~2000 (the r08 behavior,
    unchanged), g=4 at K=4096 (matches the measured frontier), g=16
    at K=65536 (0.1% of cells per super — still cheap).  Returned
    as ``cell_coupling`` so callers can log the regime.

    ``levels=1`` (the FLAT callers — ``ivf_topk_auto`` below the
    clamp, ``ivf_index_topk`` on a flat index) skips the coupling
    floor: dilution is a two-level phenomenon (foreign supers'
    cells crowding one global ranking), and every measured s=1 row
    — 200k/K=448, 1M/K=1000, 1M/K=4096 — sits at recall 1.0 for
    all c, so the plain cell-decay solve is already conservative
    for a flat probe.

    DOMAIN: the model predicts PROBE misses, assuming the true
    neighbors' cells rank well for the query — i.e. centroids
    placed where the data is.  md5-sample seeds satisfy that on
    clone/near-dup corpora (every calibration point above), but on
    a CLUSTERED corpus random corpus points make poor centroids and
    the prediction can be breached with probe width not binding at
    all: the 1M clustered grids (STRESS_sf1_r09) measured 0.57
    (K=1000) / 0.73 (K=4096) at the 0.97-predicted auto point, with
    even (8,32) topping out at 0.80–0.87.  Centroid QUALITY is the
    lever, and INITIALIZATION is the binding part of it: Lloyd
    refinement from the uniform md5 sample moves the auto point
    0.57 → 0.70 (x3) and then PLATEAUS — x10 measured 0.73 with
    assign-cos flat at 0.633 (the paired ``refined x3`` /
    ``refined x10`` clustered grids) — because a uniform sample
    starves small natural clusters of seeds and Lloyd cannot
    migrate centroids into them (see ``select_seeds_d2``).
    ``kmeans_refine_seeds(init="d2")`` fixes the initialization —
    measured on the SAME 1M corpus (the ``d2 init`` clustered
    grid): auto point 0.90 (vs 0.57/0.70/0.73), grid reaches
    recall 1.0 at (8,16), at a one-time cost of ~1–4 min at
    1M/K=1000 (71–261 s across isolated runs — the d2 init's corpus
    passes dominate; md5-init Lloyd x3 alone is 5.9 s).  The fix is
    regime-specific: at K ≫ the corpus's
    natural cluster count starvation stops binding and d2 measures
    NEUTRAL (K=4096 grid: 0.70 vs md5's 0.73 auto) — there the
    residual gap is probe-side scatter and the lever is measured
    width (``ivf_index_probe_autotune``).  Fixture-scale pin:
    test_refined_seeds_restore_auto_sizer_on_clustered_corpus.
    Even so, on strongly clustered (non-near-dup) corpora treat
    ``recall_target`` as a probe-width heuristic and VALIDATE
    recall against an exact-kNN sample — the product form is
    ``ivf_index_recall_sample`` / ``job validate-recall``, which
    reports predicted vs measured side by side — instead of
    trusting the clone-fit prediction."""
    if not 0.0 < recall_target < 1.0:
        raise ValueError(f"recall_target must be in (0, 1), got {recall_target}")
    rs = IVF2_RHO_SUPER if rho_super is None else rho_super
    rc = IVF2_RHO_CELL if rho_cell is None else rho_cell
    k1 = max(math.ceil(math.sqrt(max(k_cells, 1))), 2)
    miss_each = 1.0 - math.sqrt(recall_target)
    s = math.ceil(math.log(miss_each) / math.log(rs))
    c = math.ceil(math.log(miss_each) / math.log(rc))
    s = min(max(s, 2), k1)
    g = max(2, round(2.0 * math.sqrt(k_cells / 1000.0))) if levels == 2 else 0
    c = min(max(c, 4, topk, g * s), k_cells)
    # a flat probe (levels=1) has no super level: its prediction is the
    # cell-decay term alone — multiplying in the super-miss factor
    # (1 - rs**s) modeled a level that never runs and deflated the
    # "prediction next to measurement" row on flat indexes ~1.5%
    # (conservative, but structurally wrong — ADVICE r09)
    predicted = (
        (1.0 - rs**s) * (1.0 - rc**c) if levels == 2 else 1.0 - rc**c
    )
    return {
        "nprobe_super": s if levels == 2 else None,
        "nprobe_cell": c,
        "predicted_recall": round(predicted, 4),
        "recall_target": recall_target,
        "rho_super": rs,
        "rho_cell": rc,
        "cell_coupling": g,
        # the decay constants were fit and validated on CLONE/NEAR-DUP
        # corpora (200k/1M/4M grids); on clustered corpora the
        # prediction has been breached by 0.4 with no error signal —
        # every report that embeds this solve carries the marker so
        # `predicted_recall` is never mistaken for a validated claim.
        # The acceptance step for a new corpus shape is the measured
        # sensor: `job validate-recall` (ivf_index_recall_sample).
        "model_domain": "clone-fit",
    }


def ivf2_topk(
    emb: DataFrame,
    anchor_ids: tuple[int, ...],
    k_cells: int | None = None,
    nprobe_super: int = 2,
    nprobe_cell: int = 4,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_target: float | None = None,
) -> DataFrame:
    """Hierarchical (two-level) IVF — the production answer the flat
    operator's K-clamp points at (``IVF_MAX_CELLS``): above K ≈ 4096
    the flat kernel's per-vector cost (K dots) and the seed broadcast
    both grow with √N, while two levels keep them at ~2·√K dots per
    vector with the same probe economics.

    Construction (all deterministic, no stored model):

    * K cells, K1 = ⌈√K⌉ super-cells; cell seeds by the usual
      smallest-md5 rule, super seeds = the K1 smallest-md5 CELL seeds
      (a subset, so the hierarchy adds no new vectors);
    * every cell seed is assigned to its max-dot super, except each
      super seed anchors its own super (guarantees every super owns
      ≥ 1 cell — see ``_two_level_arrays``);
    * every VECTOR routes level-wise: max-dot super first, then
      max-dot cell seed WITHIN that super (ties to smallest id at
      both levels).  This is the standard two-level restriction —
      assignment may differ from flat IVF's global argmax, which is
      the accepted trade for the √K-factor cost cut;
    * a query probes its top-``nprobe_super`` supers, ranks the cell
      seeds inside them, searches the top-``nprobe_cell`` cells
      exactly.

    Scale shape: the K-seed collect is O(K·dim) driver memory (~33 MB
    at K=65k, dim=64 — broadcast-class where flat's per-vector K-dot
    compute would already be prohibitive); vector routing is one
    map-only Arrow kernel; the candidate search joins on ``cell``
    exactly like flat IVF.  Recall on clone corpora is pinned in
    tests/test_similarity.py (clones route identically by
    construction).

    ``recall_target`` set: ``nprobe_super``/``nprobe_cell`` are
    DERIVED from the calibrated sizing model (``ivf2_probe_params``)
    instead of the fixed defaults — auto-sizing toward a
    caller-specified recall rather than hard-coded probe widths.
    CONTRACT: the model is CLONE-FIT (``model_domain`` in its
    report) — the target is honored as a prediction, not a
    measurement, and on a new corpus shape the acceptance step is
    ``job validate-recall`` (``ivf_index_recall_sample``), which
    puts the prediction next to a measured number; a breach is
    actuated by ``ivf_index_probe_autotune`` or a d2 reindex (see
    ``ivf_index_seeding_diagnostic`` for which).
    Output: (q_id, neighbor_id, rank)."""
    n = emb.count()
    k = k_cells or min(
        max(math.ceil(math.sqrt(max(n, 1))), IVF_MIN_CELLS), 65536
    )
    if recall_target is not None:
        sized = ivf2_probe_params(k, recall_target=recall_target, topk=topk)
        nprobe_super, nprobe_cell = sized["nprobe_super"], sized["nprobe_cell"]
    seeds = select_seeds(emb, k, id_col=id_col, vec_col=vec_col)
    tl = _two_level_arrays(seeds.orderBy("sid").collect())
    # the routing UDF's closure references this module's functions —
    # ship the package to the Python workers (same convention as
    # multimodal; a plain session from a foreign cwd has no other way
    # to import it)
    from data_engineering_user_session_analysis_spark.runtime import ensure_worker_imports

    ensure_worker_imports(emb.sparkSession)
    # broadcast, not closure-capture: the two-level state is ~33 MB at
    # K=65536 — exactly the scale this operator exists for — and a
    # closure would re-pickle it into every task
    bc_tl = emb.sparkSession.sparkContext.broadcast(tl)

    @F.pandas_udf("long")
    def route_cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=np.int64)
        cells, _ = _route_two_level(
            np.stack(v.to_numpy()).astype(np.float64), bc_tl.value
        )
        return pd.Series(cells)

    cells = emb.select(id_col, route_cell(F.col(vec_col)).alias("cell"))

    # query side: rank supers exactly, then cells within the probed
    # supers, then exact search in the selected cells — all driver
    # math is O(anchors · (K1 + K/K1 · nprobe_super)), broadcast-class
    anchors = emb.filter(F.col(id_col).isin(*anchor_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")
    )
    probe_cells = _two_level_probe_cells(
        [(r["q_id"], r["q_emb"]) for r in anchors.collect()],
        tl,
        nprobe_super,
        nprobe_cell,
    )
    spark = emb.sparkSession
    q_cells = spark.createDataFrame(
        [(q, c) for q, cs in probe_cells.items() for c in cs],
        "q_id long, cell long",
    )
    members = emb.join(cells, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_emb"), "cell"
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(q_cells.join(anchors, "q_id"))
        .join(members, "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            foldl_dot_column("q_emb", "n_emb").alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
        .select("q_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


# ----------------------------------------------------------------- #
# Persistent IVF index: build once, probe per query batch            #
# ----------------------------------------------------------------- #


def write_ivf_index(
    emb: DataFrame,
    path: str,
    k_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 1,
    seeds: DataFrame | None = None,
) -> dict:
    """Persist an IVF index so query batches probe WITHOUT
    re-assigning the corpus (the similarity-search twin of the
    persistent dedup indexes, ``operators/dedup_index.py``):

    * ``centroids/`` — the K ``(sid, se)`` seed rows (O(K), one file);
    * ``members/cell=<sid>/`` — every vector stored UNDER ITS CELL as
      a Hive partition, so a probe of ``nprobe`` cells is a
      partition-pruned scan reading only those directories
      (plan-pinned in tests/test_similarity.py).  At 100 TB this is
      the difference between scanning nprobe·N/K vectors and N.
      Each member row also records ``assign_cos`` — its cosine to the
      assigned centroid — which costs one double per vector and makes
      index drift AUDITABLE from the index alone;
    * ``stats/`` — one build-time row (n, K, mean assignment cosine,
      max cell fraction), the baseline appends compare against for
      the staleness signal (``append_to_ivf_index``).

    K defaults to the measured ⌈√N⌉ (``ivf_cells_for_n``); assignment
    uses the map-only Arrow kernel.  Write order is crash-safe in the
    same sense as the dedup index: centroids land first, members
    next — a members/_SUCCESS marker is the index's presence signal —
    and the advisory stats last (a missing stats dir only disables
    the staleness comparison, never the index).

    ``seeds`` overrides the deterministic md5-sample centroids with a
    caller-supplied ``(sid, se)`` set (``kmeans_refine_seeds`` — the
    quality path); ``k_cells`` is then taken from the given set.

    ``levels=2`` builds the index with the TWO-LEVEL quantizer
    (``ivf2_topk``'s routing — ~2·√K dots per vector instead of K),
    the serving form for beyond-the-clamp corpora where a flat K
    would exceed ``IVF_MAX_CELLS``; pass an explicit ``k_cells``
    above the clamp in that regime.  The layout is identical (same
    centroids, Hive-partitioned cells, stats) plus a ``_TWO_LEVEL``
    marker written WITH the centroids, before any member lands —
    appends, probes, and rebuilds read it and route with the build's
    quantizer (``_index_levels``).  Returns ``{"k_cells",
    "n_vectors", "mean_assign_cos", "max_cell_frac", "levels"}``.
    """
    import os

    if levels not in (1, 2):
        raise ValueError(f"levels must be 1 or 2, got {levels!r}")
    n = emb.count()
    k = k_cells or ivf_cells_for_n(n)
    if seeds is None:
        seeds = select_seeds(emb, k, id_col=id_col, vec_col=vec_col)
    else:
        # caller-supplied centroids (e.g. kmeans_refine_seeds): the
        # index stores and probes whatever (sid, se) rows it is given
        # — every downstream verb reads centroids/ and never re-derives
        k = seeds.count()
    seeds.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    marker = os.path.join(path, "_TWO_LEVEL")
    if levels == 2:
        with open(marker, "w") as f:
            f.write("2\n")
    elif os.path.exists(marker):  # overwrite of a two-level index
        os.remove(marker)
    # assign against the STORED centroids (what probes will read),
    # not the in-memory seeds plan — index self-consistency
    spark = emb.sparkSession
    seeds_stored = spark.read.parquet(os.path.join(path, "centroids"))
    assign = (
        _assign_cells_two_level_cos_kernel if levels == 2 else _assign_cells_cos_kernel
    )
    assigned = assign(emb, seeds_stored, id_col, vec_col)
    # repartition ON the partition column before the partitioned
    # write: without it every task writes a file into every cell it
    # touches (tasks x cells small files — measured 8365 files for a
    # 35k-row index, with a 6.7x probe penalty from listing/open
    # cost); with it each cell lands whole in one task = one file.
    # The trade is one shuffle per (rare) build and a single task for
    # the fattest cell — max_cell_frac in stats is the skew audit.
    (
        emb.join(assigned, id_col)
        .select(id_col, vec_col, F.col("cell"), F.col("assign_cos"))
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, "members"))
    )
    # build-time baseline from the WRITTEN members (column-pruned
    # scan of the cos/cell columns only)
    mem = spark.read.parquet(os.path.join(path, "members"))
    agg = mem.agg(
        F.avg("assign_cos").alias("mean_cos"),
        F.count("*").alias("n"),
    ).first()
    max_cell = (
        mem.groupBy("cell").agg(F.count("*").alias("c")).agg(F.max("c")).first()[0]
    )
    stats = {
        "k_cells": k,
        "n_vectors": n,
        "mean_assign_cos": float(agg["mean_cos"] or 0.0),
        "max_cell_frac": float(max_cell) / n if n else 0.0,
        "levels": levels,
    }
    spark.createDataFrame([stats]).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "stats")
    )
    return stats


def _assign_cells_kernel(
    emb: DataFrame, seeds: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Map-only Arrow assignment of every vector to its max-dot seed
    (ties to the smallest sid) — the ``assignment="kernel"`` path of
    ``ivf_topk``, shared by the persistent index build.  One
    implementation: the cos-reporting kernel with the cosine column
    projected away (cell choice and drift observable can never
    diverge)."""
    return _assign_cells_cos_kernel(emb, seeds, id_col, vec_col).select(
        id_col, "cell"
    )


def _assign_cells_cos_kernel(
    emb: DataFrame, seeds: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Arrow assignment kernel, emitting (id, cell, assign_cos): the
    max-dot seed per vector (ties to the smallest sid — seeds scored
    in sid order, argmax takes the first maximum; accumulation runs
    per-dimension in the fold's exact left-to-right IEEE order so
    assignment is bit-identical to the crossJoin+fold construction)
    plus the assignment COSINE — the per-vector drift observable the
    persistent index stores and compares on append.

    The O(K·dim) seed state ships as a SparkContext BROADCAST (one
    torrent transfer per executor, dereferenced per batch), not a
    task-closure capture — a closure is re-pickled into EVERY task,
    which at the derived-K ceiling (K=4096, dim=64 ≈ 2 MB) multiplies
    by the task count for no reason."""
    seed_rows = seeds.orderBy("sid").collect()
    bc = emb.sparkSession.sparkContext.broadcast(
        (
            np.array([r["sid"] for r in seed_rows], dtype=np.int64),
            np.array([list(r["se"]) for r in seed_rows], dtype=np.float64),
        )
    )

    @F.pandas_udf("cell long, assign_cos double")
    def best_cell_cos(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype=np.int64),
                                 "assign_cos": pd.Series([], dtype=np.float64)})
        seed_ids, seed_mat = bc.value
        seed_norms = np.linalg.norm(seed_mat, axis=1)
        x = np.stack(v.to_numpy()).astype(np.float64)
        acc = np.zeros((len(v), len(seed_ids)), dtype=np.float64)
        for d in range(x.shape[1]):  # foldl order: ((0 + p0) + p1) + ...
            acc = acc + x[:, d : d + 1] * seed_mat[np.newaxis, :, d].reshape(1, -1)
        idx = np.argmax(acc, axis=1)
        best = acc[np.arange(len(v)), idx]
        vnorm = np.linalg.norm(x, axis=1)
        denom = vnorm * seed_norms[idx]
        cos = np.where(denom > 0, best / np.where(denom > 0, denom, 1.0), 0.0)
        return pd.DataFrame({"cell": seed_ids[idx], "assign_cos": cos})

    return emb.select(
        id_col, best_cell_cos(F.col(vec_col)).alias("_a")
    ).select(id_col, F.col("_a.cell").alias("cell"), F.col("_a.assign_cos").alias("assign_cos"))


def _assign_cells_two_level_cos_kernel(
    emb: DataFrame, seeds: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Two-level twin of ``_assign_cells_cos_kernel``: level-wise
    routing (``_route_two_level``) against the stored centroids —
    ~2·√K dots per vector instead of K — emitting the same
    (id, cell, assign_cos) surface so the index layout, staleness
    signal, and probe economics are identical to the flat build.

    The two-level numpy state rides a SparkContext BROADCAST — at the
    beyond-clamp scale this kernel exists for (K=65536, dim=64 the
    seed matrix alone is ~33 MB), a task-closure capture would be
    re-pickled into every task."""
    from data_engineering_user_session_analysis_spark.runtime import ensure_worker_imports

    ensure_worker_imports(emb.sparkSession)  # kernel references _route_two_level
    bc = emb.sparkSession.sparkContext.broadcast(
        _two_level_arrays(seeds.orderBy("sid").collect())
    )

    @F.pandas_udf("cell long, assign_cos double")
    def best_cell_cos(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype=np.int64),
                                 "assign_cos": pd.Series([], dtype=np.float64)})
        tl = bc.value
        seed_ids = tl["seed_ids"]  # ascending, so searchsorted is exact
        seed_norms = np.linalg.norm(tl["seed_mat"], axis=1)
        x = np.stack(v.to_numpy()).astype(np.float64)
        cells, dots = _route_two_level(x, tl)
        vnorm = np.linalg.norm(x, axis=1)
        denom = vnorm * seed_norms[np.searchsorted(seed_ids, cells)]
        cos = np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0)
        return pd.DataFrame({"cell": cells, "assign_cos": cos})

    return emb.select(
        id_col, best_cell_cos(F.col(vec_col)).alias("_a")
    ).select(id_col, F.col("_a.cell").alias("cell"), F.col("_a.assign_cos").alias("assign_cos"))


def _index_levels(path: str) -> int:
    """1 (flat) or 2 (two-level), from the ``_TWO_LEVEL`` marker file
    written with the centroids — every verb that assigns or selects
    cells (append, probe, rebuild) MUST route with the build's
    quantizer, or vectors land in / are searched from the wrong
    cells."""
    import os

    return 2 if os.path.exists(os.path.join(path, "_TWO_LEVEL")) else 1


def append_to_ivf_index(
    emb_new: DataFrame,
    path: str,
    ds: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    staleness_margin: float = 0.1,
    allow_non_idempotent: bool = False,
) -> dict:
    """Fold a NEW vector shard into an existing index: assign against
    the STORED centroids (never recomputed — cell semantics stay
    stable for already-indexed vectors).  O(shard) work; the standard
    daily-increment pattern.

    ``ds`` given (the daily-verb pattern): the shard lands under
    ``increments/ds=<ds>/cell=<sid>`` with OVERWRITE — a retried or
    re-run shard replaces exactly its own rows, the same idempotent
    per-day layout as ``append_shard_to_minhash_index``.  ``ds=None``
    is the legacy one-shot mode appending into ``members/`` directly;
    a retried call DOUBLE-APPENDS (append-mode parquet has no
    replace-my-own-rows key), so it now demands an explicit
    ``allow_non_idempotent=True`` from callers who own exactly-once
    delivery themselves — the un-flagged call raises instead of
    silently arming the retry hazard.  Legacy appends keep the
    ``assign_cos`` column (one double per row), so ``members/`` stays
    schema-uniform with the build and the increments.

    Staleness signal: frozen centroids cannot follow distribution
    drift — drifted appends land far from every centroid, cells skew,
    and probe recall decays SILENTLY.  Each append therefore compares
    the shard's mean assignment cosine against the build-time
    baseline (``stats/``): ``stale=True`` when it falls more than
    ``staleness_margin`` below.  A stale index keeps serving
    correctly-assigned-at-append-time results; the operational answer
    is ``rebuild_ivf_index`` (``job reindex``), which re-derives
    centroids from the CURRENT membership.

    Returns ``{"appended", "ds", "mean_assign_cos",
    "build_mean_assign_cos", "stale"}`` (the comparison fields are
    None when the index predates the stats table)."""
    import os

    if ds is None and not allow_non_idempotent:
        raise ValueError(
            "append_to_ivf_index(ds=None) double-appends on retry; pass a "
            "ds for the idempotent increments layout, or "
            "allow_non_idempotent=True if this caller owns exactly-once "
            "delivery"
        )
    spark = emb_new.sparkSession
    seeds = spark.read.parquet(os.path.join(path, "centroids"))
    assign = (
        _assign_cells_two_level_cos_kernel
        if _index_levels(path) == 2
        else _assign_cells_cos_kernel
    )
    assigned = assign(emb_new, seeds, id_col, vec_col)
    out = (
        emb_new.join(assigned, id_col)
        .select(id_col, vec_col, F.col("cell"), F.col("assign_cos"))
        .cache()  # one kernel pass serves the write AND the metric
    )
    agg = out.agg(
        F.count("*").alias("n"), F.avg("assign_cos").alias("mean_cos")
    ).first()
    if agg["n"] == 0:
        # empty shard: nothing to write, and no cosine evidence — a
        # null mean must not read as drift (0.0 < any baseline)
        out.unpersist()
        return {
            "appended": 0,
            "ds": ds,
            "mean_assign_cos": None,
            "build_mean_assign_cos": None,
            "stale": None,
        }
    if ds is None:
        # assign_cos kept: members/ stays schema-uniform (dropping it
        # forced every downstream reader into mergeSchema defensiveness)
        out.repartition(F.col("cell")).write.mode("append").partitionBy(
            "cell"
        ).parquet(os.path.join(path, "members"))
    else:
        out.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(os.path.join(path, "increments", f"ds={ds}"))
    out.unpersist()
    report = {
        "appended": agg["n"],
        "ds": ds,
        "mean_assign_cos": float(agg["mean_cos"]),
        "build_mean_assign_cos": None,
        "stale": None,
    }
    stats_dir = os.path.join(path, "stats")
    if os.path.isdir(stats_dir):
        base = spark.read.parquet(stats_dir).first()
        report["build_mean_assign_cos"] = base["mean_assign_cos"]
        report["stale"] = bool(
            report["mean_assign_cos"]
            < base["mean_assign_cos"] - staleness_margin
        )
    return report


def _index_members(spark, path: str, id_col: str, vec_col: str) -> DataFrame:
    """All indexed vectors with their cells: the base ``members/``
    table plus every idempotent ``increments/ds=*`` shard.  Both
    sides expose (id, vec, cell); the cell stays a partition column
    in each scan, so a downstream ``cell IN (...)`` filter prunes
    both layouts."""
    import os

    cols = [F.col(id_col), F.col(vec_col), F.col("cell")]
    mem = spark.read.parquet(os.path.join(path, "members")).select(*cols)
    inc_dir = os.path.join(path, "increments")
    if os.path.isdir(inc_dir):
        mem = mem.unionByName(spark.read.parquet(inc_dir).select(*cols))
    return mem


def compact_ivf_increments(
    spark,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fold accumulated ``increments/ds=*`` shards into the base
    ``members/`` table — the index's small-files maintenance verb
    (the ``compact_partition`` story applied to the ANN tier).  Cell
    assignments are NOT recomputed (each increment was assigned
    against the live centroids when it landed), so this is a pure
    re-layout: read base + increments, rewrite members partitioned by
    cell, drop the increments dir.  Without it a year of daily shards
    makes every probe union 365 ds-partitions' files per probed cell.

    Crash-safe like ``rebuild_ivf_index``: the merged members land in
    a sibling dir, are verified complete, and are renamed in before
    the increments dir is removed — worst case the increments are
    folded AND still present, which double-counts nothing on the next
    compaction but duplicates probe rows until it runs; hence
    increments are deleted FIRST after the swap, before the .old GC.
    The one exception to "a crash anywhere leaves a readable index"
    is the swap itself: between renaming ``members/`` aside and
    renaming the merged dir in, the live index briefly has no members
    dir — a probe racing that window errors, and a crash inside it
    leaves the members at ``members.old`` for manual rename-back.
    Like all the maintenance verbs this assumes a single writer and
    no concurrent probes.  Returns ``{"members_rows",
    "increment_rows"}``.
    """
    import os
    import shutil

    inc_dir = os.path.join(path, "increments")
    if not os.path.isdir(inc_dir):
        return {"members_rows": None, "increment_rows": 0}
    members_dir = os.path.join(path, "members")
    inc = spark.read.parquet(inc_dir)
    n_inc = inc.count()
    # mergeSchema: pre-round-8 legacy one-shot appends dropped
    # assign_cos, so an older index's member files can be schema-mixed
    # — merge surfaces the column with nulls for those rows instead of
    # footer-lottery dropping it (current appends keep the column)
    base = spark.read.option("mergeSchema", "true").parquet(members_dir)
    if "assign_cos" not in base.columns:  # pre-stats index layout
        base = base.withColumn("assign_cos", F.lit(None).cast("double"))
    cols = [F.col(id_col), F.col(vec_col), F.col("cell"), F.col("assign_cos")]
    merged_dir = members_dir + ".compact"
    shutil.rmtree(merged_dir, ignore_errors=True)
    (
        base.select(*cols)
        .unionByName(inc.select(*cols))
        .repartition(F.col("cell"))  # one file per cell, see build
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(merged_dir)
    )
    if not os.path.exists(os.path.join(merged_dir, "_SUCCESS")):
        raise RuntimeError(f"compaction at {merged_dir} is incomplete")
    old = members_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(members_dir, old)
    os.rename(merged_dir, members_dir)
    shutil.rmtree(inc_dir)  # before .old GC: probes must not double-read
    shutil.rmtree(old, ignore_errors=True)
    n_members = spark.read.parquet(members_dir).count()
    return {"members_rows": n_members, "increment_rows": n_inc}


def rebuild_ivf_index(
    spark,
    path: str,
    k_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    seed_init: str = "md5",
) -> dict:
    """Re-derive the index from its CURRENT membership — the
    operational answer to a stale index (``job reindex``): fresh
    ⌈√N⌉-sized seed set over base + increments, every vector
    re-assigned, stats baseline reset.

    ``k_cells=None`` re-sizes with the BUILD'S sizing policy, read
    off the quantizer marker: a flat index takes the flat clamp
    (``ivf_cells_for_n``), a two-level index takes the unclamped ⌈√N⌉
    capped at 65536 — the ``ivf_topk_auto`` beyond-clamp rule.
    Without the distinction, reindexing a two-level index built with
    an explicit ``k_cells`` above the flat clamp (its stated use
    case) would silently collapse it to 4096 cells while keeping the
    ``_TWO_LEVEL`` marker — and ``job reindex`` is exactly the verb
    the staleness signal tells operators to run.

    ``refine_iters > 0`` rebuilds on SPHERICAL-K-MEANS-refined
    centroids (``kmeans_refine_seeds``) instead of the raw md5
    sample — the operational route to a quality rebuild: a reindex
    is already the response to a degraded staleness signal, and
    refined centroids reset the ``mean_assign_cos`` baseline
    measurably tighter (so the signal regains headroom).
    ``seed_init="d2"`` starts that refinement from D²-weighted
    (k-means||) seeds instead of the uniform md5 sample — the
    rebuild for corpora whose natural clustering starves a uniform
    sample (see ``select_seeds_d2``).

    Crash safety: the rebuild lands in a sibling ``<path>.rebuild``
    directory and is swapped in only after its members/_SUCCESS marker
    exists, so a crash mid-rebuild leaves the live index untouched
    (and a dangling .rebuild dir to GC).  The swap itself is two
    renames — old index aside, rebuild in — with a window between
    them where ``path`` does not exist: a probe RACING the swap can
    see a missing index, and a crash inside the window leaves the
    index at ``<path>.old`` for manual rename-back.  The maintenance
    verbs assume a single writer and no concurrent probes, the same
    operational contract as the dedup-index maintenance.
    Distributed end-to-end — nothing corpus-sized touches the driver.
    Returns the new build stats."""
    import os
    import shutil

    vecs = _index_members(spark, path, id_col, vec_col).select(id_col, vec_col)
    levels = _index_levels(path)
    if k_cells is None and levels == 2:
        n = vecs.count()
        k_cells = min(max(math.ceil(math.sqrt(max(n, 1))), IVF_MIN_CELLS), 65536)
    seeds = None
    if refine_iters > 0:
        k_for_refine = k_cells or ivf_cells_for_n(vecs.count())
        seeds = kmeans_refine_seeds(
            vecs, k_for_refine, iters=refine_iters, id_col=id_col,
            vec_col=vec_col, init=seed_init,
        )
    tmp = path.rstrip("/") + ".rebuild"
    shutil.rmtree(tmp, ignore_errors=True)
    stats = write_ivf_index(
        vecs,
        tmp,
        k_cells,
        id_col=id_col,
        vec_col=vec_col,
        levels=levels,  # rebuild keeps the build's quantizer
        seeds=seeds,
    )
    # swap only after the rebuild is verifiably complete, and never
    # have a moment where the live path is deleted without its
    # replacement ready: rename the old index aside (instant), rename
    # the rebuild in, then GC the old — a crash at any point leaves
    # either the old or the new index live at `path` (worst case plus
    # a dangling .old/.rebuild dir to GC).
    if not os.path.exists(os.path.join(tmp, "members", "_SUCCESS")):
        raise RuntimeError(f"rebuild at {tmp} is incomplete (no members/_SUCCESS)")
    old = path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return stats


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    topk: int = 3,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe_cell: int = 4,
    recall_target: float | None = None,
) -> DataFrame:
    """Probe the persistent index: top-``topk`` exact-dot neighbors
    within each query's top-``nprobe`` cells, over the base
    ``members/`` table UNIONED with every ``increments/ds=*`` shard
    (``_index_members``).

    Both scans carry ``cell IN (<probed cells>)`` — a literal
    IN-filter over the Hive partition column, so Catalyst prunes to
    exactly the probed directories (``PartitionFilters`` plan-pinned).
    Cell selection is distributed in both modes; only the DISTINCT
    probed cell ids are collected to build the pruning literal, and
    those are bounded by K regardless of the query-batch size — the
    same bounded-collect pattern as the kernel's seed collect.

    On a TWO-LEVEL index (``write_ivf_index(levels=2)``, detected via
    the ``_TWO_LEVEL`` marker) cell selection routes with the build's
    quantizer: ``nprobe`` ranks supers and ``nprobe_cell`` cells are
    searched inside them (the ``ivf2_topk`` probe semantics —
    matching the direct operator is pinned in tests).  ``nprobe_cell``
    is ignored on a flat index.  ``recall_target`` works in BOTH
    regimes: two-level takes the full (s, c) solve; flat maps the
    target onto the sizing model's cell axis, matching
    ``ivf_topk_auto``'s flat-regime behavior.  The ``recall_target``
    contract is the same as ``ivf2_topk``'s: a CLONE-FIT prediction
    whose acceptance step on a new corpus shape is ``job
    validate-recall`` (prediction next to measurement), with
    ``tune-recall`` / ``diagnose-seeding`` as the actuation paths.
    Output: (q_id, neighbor_id, rank)."""
    import os

    seeds = spark.read.parquet(os.path.join(path, "centroids"))
    if _index_levels(path) == 2:
        if recall_target is not None:
            # auto-size the probe widths toward the caller's recall
            # target from the stored K (one O(K) count on the tiny
            # centroids table) — the calibrated ivf2_probe_params model
            sized = ivf2_probe_params(
                seeds.count(), recall_target=recall_target, topk=topk
            )
            nprobe, nprobe_cell = sized["nprobe_super"], sized["nprobe_cell"]
        # cell selection as a map-only Arrow kernel over the query
        # batch (the same _two_level_probe_cells math the one-shot
        # operator uses, so probe == direct stays bit-identical) —
        # the batch never touches the driver; only the DISTINCT
        # probed cell ids do, and those are bounded by K.  The
        # two-level state rides a broadcast (33 MB at K=65k would be
        # re-pickled per task as a closure capture).
        from data_engineering_user_session_analysis_spark.runtime import (
            ensure_worker_imports,
        )

        ensure_worker_imports(spark)  # UDF references _two_level_probe_cells
        bc_tl = spark.sparkContext.broadcast(
            _two_level_arrays(seeds.orderBy("sid").collect())
        )

        @F.pandas_udf("array<long>")
        def probe_cells_udf(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype=object)
            pc = _two_level_probe_cells(
                list(enumerate(v.tolist())), bc_tl.value, nprobe, nprobe_cell
            )
            return pd.Series([pc[i] for i in range(len(v))])

        q_cells = queries.select(
            q_id_col, F.explode(probe_cells_udf(F.col(q_vec_col))).alias("cell")
        )
    else:
        if recall_target is not None:
            # flat regime: the probe depth takes the sizing model's CELL
            # axis, exactly as ivf_topk_auto maps the target below the
            # clamp (a flat probe is the s=1 restriction — no super
            # dilution, so the cell-decay solve is the conservative
            # bound).  Previously the target was silently ignored here,
            # inconsistent with the auto path (ADVICE r8).
            sized = ivf2_probe_params(
                seeds.count(), recall_target=recall_target, topk=topk, levels=1
            )
            nprobe = max(nprobe, sized["nprobe_cell"])
        w_assign = Window.partitionBy(q_id_col).orderBy(
            F.col("dot").desc(), F.col("sid").asc()
        )
        q_cells = (
            queries.crossJoin(F.broadcast(seeds))
            .select(
                q_id_col,
                "sid",
                foldl_dot_column(q_vec_col, "se").alias("dot"),
            )
            .withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") <= nprobe)
            .select(q_id_col, F.col("sid").alias("cell"))
        )
    probe_cells = sorted({r["cell"] for r in q_cells.select("cell").distinct().collect()})
    members = (
        _index_members(spark, path, id_col, vec_col)
        .filter(F.col("cell").isin(probe_cells))  # -> partition pruning
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_emb"),
            "cell",
        )
    )
    anchors = q_cells.join(queries, q_id_col)
    w_rank = Window.partitionBy(q_id_col).orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(anchors)
        .join(members, "cell")
        .filter(F.col("neighbor_id") != F.col(q_id_col))
        .select(
            q_id_col,
            "neighbor_id",
            foldl_dot_column(q_vec_col, "n_emb").alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
        .select(q_id_col, "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def _recall_sample_truth(
    spark,
    path: str,
    sample_q: int,
    topk: int,
    id_col: str,
    vec_col: str,
    salt: str,
    stratify_by_cell: bool = False,
):
    """Shared setup for the recall-validation verbs: the deterministic
    md5-order query sample from the index's own members and its exact
    brute-force ground truth (ONE corpus pass — broadcast queries,
    map-side Arrow dots, one narrow per-query window).  Returns
    ``(queries_df, truth_pairs, n_vectors, levels)``; driver state is
    the bounded sample_q*topk pair set.

    ``stratify_by_cell`` switches WHAT the recall estimate weights:
    the default md5-order member sample is POPULATION-weighted — the
    right estimator when queries are drawn like the corpus, but it
    under-weights exactly the small clusters a bad seeding starves
    (measured: the md5-seed 1M clustered index reads 0.80 at the
    solve point on a population sample vs 0.57 on per-cluster
    queries — the breach hides in the tail).  Stratified sampling
    takes the md5-min member of each of the ``sample_q`` md5-min
    CELLS (one shuffle on the cell column), approximating
    per-cluster worst-case coverage.  Validate with both: population
    for expected recall, stratified for tail recall."""
    if sample_q < 1:
        raise ValueError(f"sample_q must be >= 1, got {sample_q}")
    mem_cells = _index_members(spark, path, id_col, vec_col)
    members = mem_cells.select(id_col, vec_col)
    n = members.count()
    h = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt)))
    if stratify_by_cell:
        # rank on NARROW columns (id, cell, hash) so the per-cell
        # shuffle never carries the embedding; the ≤ sample_q winner
        # ids broadcast-join back for their vectors
        winner_ids = (
            mem_cells.select(F.col(id_col), F.col("cell"), h.alias("_h"))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("cell").orderBy(
                        F.col("_h").asc(), F.col(id_col).asc()
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .orderBy(
                F.md5(F.concat_ws(":", F.col("cell").cast("string"), F.lit(salt))),
                F.col("cell"),
            )
            .limit(sample_q)
            .select(id_col)
        )
        sampled = members.join(F.broadcast(winner_ids), id_col)
    else:
        sampled = members.orderBy(h.asc(), F.col(id_col).asc()).limit(sample_q)
    queries = (
        sampled
        .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"))
        .localCheckpoint(eager=True)  # one sample, reused by truth + probes
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    truth = {
        (r["q_id"], r["neighbor_id"])
        for r in F.broadcast(queries)
        .crossJoin(members.select(F.col(id_col).alias("neighbor_id"), vec_col))
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            foldl_dot_column("q_emb", vec_col).alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .collect()
    }
    return queries, truth, n, _index_levels(path)


def _measure_probe_recall(
    spark,
    path: str,
    queries,
    truth: set,
    nprobe: int,
    nprobe_cell: int,
    topk: int,
    id_col: str,
    vec_col: str,
) -> tuple[float, float]:
    """One measured probe of the sampled queries at the given widths:
    (recall_at_k, probe_sec)."""
    import time

    t0 = time.monotonic()
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_index_topk(
            spark,
            path,
            queries,
            nprobe=nprobe,
            topk=topk,
            id_col=id_col,
            vec_col=vec_col,
            nprobe_cell=nprobe_cell,
        ).collect()
    }
    sec = round(time.monotonic() - t0, 3)
    return round(len(truth & got) / max(len(truth), 1), 4), sec


def ivf_index_recall_sample(
    spark,
    path: str,
    sample_q: int = 30,
    topk: int = 3,
    nprobe: int = 2,
    nprobe_cell: int = 4,
    recall_target: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "recall",
    stratify_by_cell: bool = False,
) -> dict:
    """Measured recall of a persistent index against exact kNN on a
    deterministic query sample — the PRODUCT form of the validation
    the sizing-model docstring prescribes (``ivf2_probe_params``:
    on strongly clustered corpora "VALIDATE recall against an
    exact-kNN sample"), so operators don't need the stress harness
    to act on that advice.  CLI: ``job validate-recall``.

    Sample: the ``sample_q`` members with the smallest
    ``md5(id:salt)`` — the engine-portable hash-order sampling used
    everywhere else (deterministic across runs; vary ``salt`` for an
    independent draw).  Ground truth is brute-force top-``topk`` by
    exact dot over ALL indexed members (base + increments): ONE
    corpus pass — broadcast queries, map-side Arrow dots, one narrow
    (q_id, neighbor_id, dot) shuffle for the per-query window — the
    same cost class as a rebuild's assignment pass.  ``sample_q`` is
    the cost knob; a subsampled ground-truth corpus is deliberately
    NOT offered (truth on a sample measures recall against a
    different neighbor set — biased upward).

    The probe runs through ``ivf_index_topk`` with EXPLICIT widths:
    when ``recall_target`` is given the (s, c) solve happens here
    (same ``ivf2_probe_params`` call the probe would make, flat
    regime on the cell axis), so the report's widths are exactly
    what ran.  Returns ``{n_vectors, levels, sample_q, topk, nprobe,
    nprobe_cell, recall_target, predicted_recall, recall_at_k,
    probe_sec}`` — predicted vs measured side by side is the point:
    the 1M clustered grids (STRESS_sf1_r09) showed prediction 0.97 /
    measurement 0.57 on a corpus shape outside the model's clone-fit
    domain, and this report is how an operator detects that breach
    on THEIR corpus before trusting ``recall_target``.  To ACT on a
    breach, see ``ivf_index_probe_autotune``.

    ``stratify_by_cell=True`` samples one query per index cell
    instead of md5-order members — TAIL recall instead of
    population recall (see ``_recall_sample_truth`` for why the
    default estimator hides seed starvation).

    Driver state is bounded: two ``sample_q * topk`` pair sets; the
    corpus never collects."""
    import os

    queries, truth, n, levels = _recall_sample_truth(
        spark, path, sample_q, topk, id_col, vec_col, salt,
        stratify_by_cell=stratify_by_cell,
    )
    res: dict = {"n_vectors": n, "levels": levels, "topk": topk,
                 "stratified": stratify_by_cell}
    if recall_target is not None:
        k = spark.read.parquet(os.path.join(path, "centroids")).count()
        sized = ivf2_probe_params(
            k, recall_target=recall_target, topk=topk, levels=levels
        )
        if levels == 2:
            nprobe, nprobe_cell = sized["nprobe_super"], sized["nprobe_cell"]
        else:
            nprobe = max(nprobe, sized["nprobe_cell"])
        res["recall_target"] = recall_target
        res["predicted_recall"] = sized["predicted_recall"]
        res["model_domain"] = sized["model_domain"]
    res["nprobe"] = nprobe
    if levels == 2:
        res["nprobe_cell"] = nprobe_cell
    res["sample_q"] = queries.count()
    res["recall_at_k"], res["probe_sec"] = _measure_probe_recall(
        spark, path, queries, truth, nprobe, nprobe_cell, topk, id_col, vec_col
    )
    return res


def ivf_index_seeding_diagnostic(
    spark,
    path: str,
    recall_target: float = 0.95,
    sample_q: int = 30,
    topk: int = 3,
    gap_threshold: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "recall",
) -> dict:
    """Diagnose WHICH lever a recall shortfall needs — seeding or
    probe width — from the measured stratified-vs-population gap,
    turning round 9's forensic finding into an operator-facing
    signal (VERDICT r09 next #3).  The gap is the SIGNATURE of seed
    starvation: a population sample weights queries like the corpus
    (dominated by well-seeded fat clusters) while the per-cell
    stratified sample weights the tail, so an index whose uniform
    seeds starved the small clusters reads high on one and low on the
    other (measured at 1M/K=1000 with md5 seeds: 0.80 population vs
    0.60 tail, STRESS_sf1_r09) — whereas probe-side scatter on a
    WELL-seeded index depresses both estimators together (the d2
    1M grid and the K=4096 d2-neutral regime).

    Runs ``ivf_index_recall_sample`` twice at the model's solve
    widths for ``recall_target`` — population-weighted and
    stratified-by-cell — and emits ``seeding_suspect = gap >
    gap_threshold``, with the remedy named: a ``job reindex <path>
    [k_cells] <refine_iters> d2`` rebuild re-seeds with the
    D²-weighted init (the fix measured to move the 1M starved auto
    point 0.57 → 0.90 where width alone cost 4× the probe —
    ``select_seeds_d2``).  ``seeding_suspect=False`` with a LOW
    population recall means width, not seeding, binds — the lever is
    ``ivf_index_probe_autotune``.  Pinned by
    tests/test_similarity.py::test_seeding_diagnostic_flags_starved_index_and_d2_clears_it:
    a starved fixture trips the flag, the d2 rebuild clears it.

    Cost: each estimator computes its own exact ground truth (one
    corpus pass each — the same cost class as two ``validate-recall``
    runs); driver state stays bounded by sample_q·topk.  CLI:
    ``job diagnose-seeding``."""
    pop = ivf_index_recall_sample(
        spark, path, sample_q=sample_q, topk=topk,
        recall_target=recall_target, id_col=id_col, vec_col=vec_col,
        salt=salt, stratify_by_cell=False,
    )
    tail = ivf_index_recall_sample(
        spark, path, sample_q=sample_q, topk=topk,
        recall_target=recall_target, id_col=id_col, vec_col=vec_col,
        salt=salt, stratify_by_cell=True,
    )
    gap = round(pop["recall_at_k"] - tail["recall_at_k"], 4)
    suspect = gap > gap_threshold
    return {
        "n_vectors": pop["n_vectors"],
        "levels": pop["levels"],
        "recall_target": recall_target,
        "predicted_recall": pop.get("predicted_recall"),
        "population_recall": pop["recall_at_k"],
        "tail_recall": tail["recall_at_k"],
        "gap": gap,
        "gap_threshold": gap_threshold,
        "seeding_suspect": suspect,
        "remedy": (
            "job reindex <path> [k_cells] 3 d2  # re-seed with the "
            "D2-weighted init (select_seeds_d2)"
            if suspect
            else "width binds, not seeding: job tune-recall <path> "
            "(ivf_index_probe_autotune)"
        ),
    }


def ivf_index_probe_autotune(
    spark,
    path: str,
    recall_target: float = 0.95,
    sample_q: int = 30,
    topk: int = 3,
    max_steps: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "recall",
    stratify_by_cell: bool = False,
) -> dict:
    """Closed-loop probe sizing: escalate (nprobe_super, nprobe_cell)
    until the MEASURED recall on an exact-kNN sample meets the target
    — the actuation that ``ivf_index_recall_sample`` is the sensor
    for.  ``ivf2_probe_params`` predicts from constants fit on
    clone/near-dup corpora and is breached on clustered data with no
    error signal (0.97 predicted / 0.57 measured on the 1M clustered
    grid, STRESS_sf1_r09); this verb replaces the open-loop trust
    with measurement.  CLI: ``job tune-recall``.

    Ladder: start at the model's solve for the target (its floor —
    never probe less than the prediction says is needed), then widen
    the binding axis per the measured grid frontier: the cell axis
    saturates with the super probe fixed (every md5/d2 1M curve is
    flat in c beyond ~4·g·s at fixed s), so c doubles only while
    ``c < 2·g·s`` headroom remains, else s doubles (capped at K1)
    and c re-floors to the coupling.  The walk is finite and the
    endpoint is exact: at (K1, K) the probe searches every cell —
    brute force — so measured recall is 1.0 by construction and any
    target < 1 terminates.  Each step costs one ``sample_q``-query
    probe; the corpus-pass ground truth is computed ONCE.

    Flat (levels=1) indexes walk the single nprobe axis (doubling,
    capped at K).

    ``stratify_by_cell=True`` tunes against the per-cell (tail)
    sample instead of the population sample — the setting that
    makes a starved seeding visible to the tuner (population
    sampling reads 0.80 where the stratified sample reads 0.60 on
    the md5 1M index); tuning to a tail target costs more width on
    a badly-seeded index, which is the honest price signal —
    measured (STRESS_sf1_r09): md5 seeds need (32,128) for 0.9556
    tail recall where d2+refined seeds need (8,32), a 4× cell-width
    differential that amortizes the one-time d2 refine (60–170 s at
    1M/K=1000 across 7 isolated runs post the round-10 incremental
    init; probe-normalized spread ≤1.3× — see ``select_seeds_d2``)
    in ~30–85 probes.

    Returns the final widths + measurement plus the full ``steps``
    trail — the trail is the evidence an operator uses to decide
    whether to PAY the width (probe cost scales with searched
    fraction) or fix the seeds instead (``job reindex <path>
    [k_cells] [refine_iters] d2`` — the d2 rebuild reached the same
    1M target at (8,16) where md5 seeds cap at 0.87 even at (8,32)).
    """
    import os

    if not 0.0 < recall_target < 1.0:
        raise ValueError(f"recall_target must be in (0, 1), got {recall_target}")
    queries, truth, n, levels = _recall_sample_truth(
        spark, path, sample_q, topk, id_col, vec_col, salt,
        stratify_by_cell=stratify_by_cell,
    )
    k = spark.read.parquet(os.path.join(path, "centroids")).count()
    sized = ivf2_probe_params(k, recall_target=recall_target, topk=topk, levels=levels)
    res: dict = {
        "n_vectors": n,
        "levels": levels,
        "topk": topk,
        "sample_q": queries.count(),
        "recall_target": recall_target,
        "predicted_recall": sized["predicted_recall"],
        "model_domain": sized["model_domain"],
        "k_cells": k,
        "stratified": stratify_by_cell,
        "steps": [],
    }
    # the walk mechanics (measure-first, step budget, structural
    # endpoint, met accounting) are the shared three-family engine —
    # operators/recall_tune.py; this family's actuator is CHEAP
    # (probe widths, no rebuild) and has an exact endpoint (full
    # width searches every cell), so no candidate-load gate is
    # needed: the width caps (K1, K) bound the probe at brute force.
    from data_engineering_user_session_analysis_spark.operators.recall_tune import (
        autotune_walk,
    )

    if levels == 2:
        k1 = max(math.ceil(math.sqrt(max(k, 1))), 2)
        g = max(sized["cell_coupling"], 1)
        widths = {"nprobe": sized["nprobe_super"],
                  "nprobe_cell": sized["nprobe_cell"]}

        def _measure2(_cost: "float | None") -> dict:
            rec, sec = _measure_probe_recall(
                spark, path, queries, truth,
                widths["nprobe"], widths["nprobe_cell"],
                topk, id_col, vec_col,
            )
            return {"nprobe": widths["nprobe"],
                    "nprobe_cell": widths["nprobe_cell"],
                    "recall_at_k": rec, "probe_sec": sec}

        def _next2(cur: dict) -> dict:
            # widen the binding axis per the measured grid frontier:
            # c doubles while coupling headroom remains, else s
            # doubles (capped at K1) and c re-floors to the coupling
            s, c = cur["nprobe"], cur["nprobe_cell"]
            if c < min(2 * g * s, k):
                return {"nprobe": s, "nprobe_cell": min(2 * c, k)}
            if s < k1:
                s2 = min(2 * s, k1)
                return {"nprobe": s2, "nprobe_cell": min(max(c, g * s2), k)}
            return {"nprobe": s, "nprobe_cell": min(2 * c, k)}

        walk = autotune_walk(
            measure=_measure2,
            recall_key="recall_at_k",
            recall_target=recall_target,
            max_steps=max_steps,
            next_geometry=_next2,
            apply_geometry=lambda geom: widths.update(geom),
            structural_stop=lambda cur: (
                cur["nprobe"] >= k1 and cur["nprobe_cell"] >= k
            ),
        )
        res["steps"] = walk["steps"]
        res["nprobe"], res["nprobe_cell"] = (
            widths["nprobe"], widths["nprobe_cell"],
        )
    else:
        widths = {"nprobe": sized["nprobe_cell"]}

        def _measure1(_cost: "float | None") -> dict:
            rec, sec = _measure_probe_recall(
                spark, path, queries, truth, widths["nprobe"], 4,
                topk, id_col, vec_col,
            )
            return {"nprobe": widths["nprobe"],
                    "recall_at_k": rec, "probe_sec": sec}

        walk = autotune_walk(
            measure=_measure1,
            recall_key="recall_at_k",
            recall_target=recall_target,
            max_steps=max_steps,
            next_geometry=lambda cur: {"nprobe": min(2 * cur["nprobe"], k)},
            apply_geometry=lambda geom: widths.update(geom),
            structural_stop=lambda cur: cur["nprobe"] >= k,
        )
        res["steps"] = walk["steps"]
        res["nprobe"] = widths["nprobe"]
    last = res["steps"][-1]
    res["recall_at_k"] = last["recall_at_k"]
    res["probe_sec"] = last["probe_sec"]
    res["met"] = walk["met"]
    return res
