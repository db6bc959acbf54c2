"""Skew-mitigation: salted two-phase aggregation.

AQE's skew-join handling covers joins; for *aggregations* on heavily
skewed keys (one user with 10^8 events), a single reducer still owns
the hot key's partial state.  Spark's hash aggregation already does
map-side partial aggregation, which usually suffices — salting is the
explicit fallback when the number of distinct groups per partition is
so high that partial maps spill and the hot key's traffic still
concentrates.

``salted_agg`` spreads each key over ``buckets`` sub-keys, aggregates
partially per (key, salt), then merges partials per key — two small
shuffles instead of one hot one.  Only algebraic aggregates (sum,
count, min, max) merge losslessly; the API is restricted to those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # partial counts merge by summing
    "min": F.min,
    "max": F.max,
}

_PARTIAL = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
}


def _salt(buckets: int, row_key: str | None) -> Column:
    """The salt bucket ``salted_agg`` gives each row."""
    if row_key is not None:
        # Deterministic per-row salt: unique row ids spread a hot key
        # of IDENTICAL payload rows across buckets AND re-salt
        # identically on retry.
        return F.pmod(F.hash(F.col(row_key)), F.lit(buckets))
    # Salt from a per-ROW source, not row content: a hot key of many
    # IDENTICAL rows (the realistic skew case) must still spread, and a
    # content hash would put them all in one bucket.  Phase 2 merges
    # any assignment exactly; see ``salted_agg`` for the retry hazard.
    return F.pmod(
        F.hash(F.monotonically_increasing_id(), F.spark_partition_id()),
        F.lit(buckets),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | Column]],
    buckets: int = 16,
    row_key: str | None = None,
) -> DataFrame:
    """Two-phase aggregation over salted keys.

    ``aggs`` maps output column name -> (fn, input column) with fn in
    {sum, count, min, max}.  Result is identical to a direct
    ``groupBy(keys).agg(...)`` — pinned by the oracle of the query
    that uses it.

    ``row_key`` names a per-row UNIQUE column (event id, line id);
    when given, the salt is ``pmod(hash(row_key), buckets)`` —
    deterministic under task retry.  Prefer it whenever the data has
    one: the fallback salt (``_salt``) is derived from
    ``monotonically_increasing_id()/spark_partition_id()``, which are
    nondeterministic across map-task re-execution — after a
    shuffle-fetch failure, rerun tasks can re-salt rows into reduce
    partitions that were already fetched, duplicating or dropping
    rows in the phase-1 aggregate (the SPARK-23207 class of bug).
    The fallback is therefore only safe where a stage retry forces
    full-stage recomputation (e.g. the first stage after a
    deterministic source scan, barrier mode, or single-attempt jobs).
    """
    unknown = {fn for fn, _ in aggs.values()} - set(_PARTIAL)
    if unknown:
        raise ValueError(f"non-algebraic aggregate(s) not salt-safe: {unknown}")
    partial = (
        df.withColumn("_salt", _salt(buckets, row_key))
        .groupBy(*keys, "_salt")
        .agg(
            *[
                _PARTIAL[fn](col).alias(f"_p_{name}")
                for name, (fn, col) in aggs.items()
            ]
        )
    )
    return partial.groupBy(*keys).agg(
        *[
            _MERGE[fn](f"_p_{name}").alias(name)
            for name, (fn, _col) in aggs.items()
        ]
    )
