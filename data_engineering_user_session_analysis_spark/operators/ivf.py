"""IVF (inverted-file) approximate nearest neighbors and max-cosine
routing — the operators behind the ``ann_ivf_topk`` and
``ann_cos_route`` registry rows.

``ivf_topk``: K coarse centroids ("seeds"); every vector joins the
cell of its max-dot centroid; a query searches only its own top
``nprobe`` cells exactly.  Cost per query drops from N dots to
``nprobe * N/K``, and the index is one extra small column.  The
registered query pins a LITERAL seed list so its DuckDB oracle
replays the identical construction.

``_max_cos_matmul_kernel``: routes every vector to its max-COSINE
seed in one map-only Arrow pass over a broadcast unit seed matrix.

Recall honesty: on clusterless data, IVF recall is ≈ the searched
fraction (nprobe/K) — there is nothing to exploit.  Its operating
regime is clustered/duplicated corpora (the near-dup retrieval case:
a vector's clones land in ITS OWN cell).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _max_cos_matmul_kernel(
    emb: DataFrame, seeds: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Route every vector to its max-COSINE seed: one ``x @ seedsᵀ``
    matmul per Arrow batch over a broadcast unit seed matrix — one
    map-only pass, no N·K crossJoin, no shuffle.  Output: (id, cell);
    ties go to the smallest sid (seeds in sid order, argmax takes the
    first maximum).  Deterministic for a fixed environment; not
    bit-portable across BLAS builds, so only the integer argmax is
    engine-stable."""
    bc = _unit_seed_broadcast(emb.sparkSession, seeds)
    return emb.select(id_col, _best_cos_udf(bc)(F.col(vec_col)).alias("cell"))


def _unit_seed_broadcast(spark, seeds: DataFrame):
    """(sids, unit seed matrix) as a SparkContext broadcast — the
    state of the chunked-BLAS cosine kernel."""
    seed_rows = seeds.orderBy("sid").collect()
    mat = np.array([list(r["se"]) for r in seed_rows], dtype=np.float64)
    nrms = np.linalg.norm(mat, axis=1)
    nrms[nrms == 0] = 1.0
    return spark.sparkContext.broadcast(
        (np.array([r["sid"] for r in seed_rows], dtype=np.int64), mat / nrms[:, np.newaxis])
    )


def _best_cos_udf(bc):
    """The chunked-BLAS max-cosine pandas UDF over a broadcast unit
    seed matrix (see ``_max_cos_matmul_kernel`` for the determinism
    statement)."""

    @F.pandas_udf("long")
    def best_cos(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=np.int64)
        seed_ids, unit_seeds = bc.value
        x = np.stack(v.to_numpy()).astype(np.float64)
        xn = np.linalg.norm(x, axis=1)
        xn[xn == 0] = 1.0
        x = x / xn[:, np.newaxis]
        # chunk rows so the (rows × K) score temp stays bounded
        # (~128 MB of f64 per chunk); row chunks are independent dots,
        # so the output is bit-identical to the unchunked matmul.
        chunk = max(1, int(2**24 // max(len(seed_ids), 1)))
        cells = [
            seed_ids[np.argmax(x[lo : lo + chunk] @ unit_seeds.T, axis=1)]
            for lo in range(0, len(x), chunk)
        ]
        return pd.Series(np.concatenate(cells))

    return best_cos


def _fold_dot(a_col: str, b_col: str):
    """The interpreted ``F.aggregate`` fold dot product: products
    widened to double and summed left to right, the same IEEE order
    as the oracle's ``list_sum``.  It runs with NO Arrow stage — at
    fixture scale (N·K in the thousands) a pandas-UDF stage costs
    more in Python-worker setup than the whole interpreted fold."""
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
) -> DataFrame:
    """Exact top-``topk`` by dot product within each anchor's top
    ``nprobe`` cells.  ``seeds`` is a ``(sid, se)`` DataFrame (O(K)
    rows).  Output: (q_id, neighbor_id, rank).

    Assignment is a broadcast crossJoin + per-pair fold dots + top-1
    window (ties to the smallest sid): no seed collect and the lowest
    fixed overhead while N·K is small."""
    scored = emb.crossJoin(F.broadcast(seeds)).select(
        id_col, "sid", _fold_dot(vec_col, "se").alias("dot")
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
            _fold_dot(vec_col, "se").alias("dot"),
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
            _fold_dot("q_emb", "n_emb").alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
        .select("q_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )
