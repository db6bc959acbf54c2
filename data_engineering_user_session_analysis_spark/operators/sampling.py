"""Deterministic sampling, splitting, and mixture operators for
training-data pipelines.

Spark's ``TABLESAMPLE`` / ``df.sample`` are seed-dependent AND
partitioning-dependent (the same seed yields different rows after a
repartition), which makes pipeline runs unreproducible.  Every
operator here derives inclusion from CONTENT (md5 of a key), so a
sample is stable across runs, engines, partition layouts, and
cluster sizes — the property a 100 TB corpus pipeline needs for
auditable data mixes, and for re-running a failed day without
resampling the world.

Rate/split samplers (rate-shaped output, all map-side — pinned with
a no-Exchange plan check in tests/test_sampling.py):

* ``sample_fraction`` / ``deterministic_split`` — salted unit-hash
  thresholds; splits are DISJOINT, covering, and STABLE (a new row
  can never move an old row's split — eval-set hygiene).
* ``stratified_sample_by_rates`` — per-stratum keep-rates as a
  literal CASE table (config-sized dicts, never a join).
* ``upsample_by_rate`` — deterministic repetition for rates > 1:
  whole copies plus a salted fractional copy, expected multiplicity
  exactly the rate.
* ``mixture_rates`` / ``apply_mixture`` — solve the binding-domain
  data mixture driver-side over config-sized dicts, realize it
  map-side with the rate samplers above.

The unit hash (``uniform_hash_unit``) maps ``md5(id || ':' || salt)``'s
first 8 hex chars to [0, 1): uniform, engine-portable (DuckDB /
Python hashlib reproduce it byte for byte — pinned in
tests/test_sampling.py), and INDEPENDENT across salts, so a
train/val split salted "split" and a downsample salted "mix" don't
correlate (the classic same-hash trap: filtering the same hash at
0.5 twice keeps 50%, not 25%).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _key_hash(col: Column) -> Column:
    """First 8 md5 hex chars of the key as a non-negative long —
    reproducible in any engine (unlike murmur/xxhash/rand)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


# ----------------------------------------------------------------- #
# Rate/split samplers: salted unit-hash thresholds                   #
# ----------------------------------------------------------------- #

_HASH_DENOM = float(1 << 32)


def uniform_hash_unit(id_col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) from a stable id: the first 8 hex
    chars of ``md5(id || ':' || salt)`` as a 32-bit integer, scaled.
    Engine-portable (same value in DuckDB / Python hashlib) and
    independent across salts."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    hex8 = F.substring(F.md5(F.concat(c.cast("string"), F.lit(":" + salt))), 1, 8)
    return F.conv(hex8, 16, 10).cast("double") / F.lit(_HASH_DENOM)


def sample_fraction(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = "sample"
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by salted id hash —
    the salt keeps draws independent for pipelines that sample the
    same corpus more than once.  Map-side filter."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(uniform_hash_unit(id_col, salt) < F.lit(fraction))


def deterministic_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Label every row with a split name (train/val/test/...) by
    cumulative hash thresholds: splits are DISJOINT, cover every row,
    and membership is a pure function of (id, salt) — a row keeps its
    split across reruns, engine versions, and repartitioning, and a
    NEW row cannot move an old row's split (the property random
    splits lack).  Weights are normalized; order follows the dict."""
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative and non-empty: {weights}")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError(f"weights sum to {total}")
    u = uniform_hash_unit(id_col, salt)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        cond = u < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def stratified_sample_by_rates(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum deterministic downsampling: keep ``rates[stratum]``
    of each stratum's rows (``default_rate`` for unlisted strata).
    The rate table is a literal CASE expression — bounded config-sized
    dicts (domains, languages, sources), never a join."""
    if any(not 0.0 <= r <= 1.0 for r in rates.values()):
        raise ValueError(f"rates must be in [0, 1]: {rates}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    rate = None
    for k, r in rates.items():
        cond = F.col(strata_col) == F.lit(k)
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    rate = F.lit(default_rate) if rate is None else rate.otherwise(F.lit(default_rate))
    return df.filter(uniform_hash_unit(id_col, salt) < rate)


def upsample_by_rate(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    salt: str = "epoch",
    copy_col: str = "copy",
) -> DataFrame:
    """Deterministic repetition for rates above 1: every row emits
    ``floor(rate)`` whole copies plus one hash-selected fractional
    copy (so expected multiplicity is exactly ``rate``), each tagged
    with a ``copy`` index.  The fractional choice is salted with the
    copy index, so which rows carry the extra epoch is decorrelated
    from every other sampling decision.  Map-side explode — output
    size rate·N, no shuffle."""
    if rate < 0:
        raise ValueError(f"rate must be non-negative, got {rate}")
    whole = int(math.floor(rate))
    frac = rate - whole
    out = df.withColumn(
        copy_col, F.explode(F.sequence(F.lit(0), F.lit(max(whole, 1) - 1)))
    )
    if whole == 0:
        out = out.filter(
            uniform_hash_unit(id_col, f"{salt}:0") < F.lit(frac)
        )
    elif frac > 0:
        extra = df.withColumn(copy_col, F.lit(whole)).filter(
            uniform_hash_unit(id_col, f"{salt}:{whole}") < F.lit(frac)
        )
        out = out.unionByName(extra)
    return out


def mixture_rates(
    available: dict[str, float],
    target_shares: dict[str, float],
    max_repeat: float = 1.0,
) -> dict:
    """Solve a data mixture: given per-domain AVAILABLE mass (tokens
    or docs) and target proportions, find the largest total T with
    ``T · share_d ≤ available_d · max_repeat`` for every domain —
    i.e. the binding domain caps the corpus — and return per-domain
    sampling rates (``> 1`` means repetition, realized by
    ``upsample_by_rate``).  Driver-side arithmetic over a
    config-sized dict; the heavy lifting stays in the sampling
    expressions.  Returns ``{"total", "rates", "binding_domain"}``."""
    if max_repeat <= 0:
        raise ValueError(f"max_repeat must be positive, got {max_repeat}")
    missing = set(target_shares) - set(available)
    if missing:
        raise ValueError(f"target domains not in available: {sorted(missing)}")
    share_sum = sum(target_shares.values())
    if share_sum <= 0 or any(s < 0 for s in target_shares.values()):
        raise ValueError(f"target_shares must be non-negative with positive sum: {target_shares}")
    shares = {d: s / share_sum for d, s in target_shares.items()}
    binding, total = None, float("inf")
    for d, s in shares.items():
        if s == 0:
            continue
        cap = available[d] * max_repeat / s
        if cap < total:
            binding, total = d, cap
    rates = {
        d: (total * s / available[d] if available[d] > 0 else 0.0)
        for d, s in shares.items()
    }
    return {"total": total, "rates": rates, "binding_domain": binding}


def apply_mixture(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mixture",
    copy_col: str = "copy",
) -> DataFrame:
    """Realize ``mixture_rates`` output over a corpus in ONE corpus
    pass: a literal CASE over the rate table maps each row to its
    array of copy indices — ``[0]``-or-empty for downsampled strata
    (rate ≤ 1), ``[0..floor(r)-1]`` plus a hash-selected fractional
    copy for upsampled strata (rate > 1), empty (dropped by the
    explode) for strata without a rate — and one ``explode`` realizes
    it.  Every kept row carries a ``copy`` index (0 for downsampled
    rows).  Map-side end to end, and ONE scan: the r14 form planned
    one ``upsample_by_rate`` branch per up-stratum plus a down-branch,
    unioned — k+1 full corpus scans for a k-up-domain mixture (4
    scans in the registry row's plan) where one suffices, since every
    branch's filter is a per-row hash decision.  Per-copy membership
    and salts are IDENTICAL to the branch form (down: ``salt``;
    up stratum d's fractional copy: ``salt:d:floor(r)`` — pinned
    row-exact against the branch construction in
    tests/test_sampling.py)."""
    if not rates:
        raise ValueError("rates selected no strata")
    empty = F.array().cast("array<int>")
    down_u = uniform_hash_unit(id_col, salt)
    copies = None
    for d, r in sorted(rates.items()):
        if r <= 1.0:
            arr = F.when(down_u < F.lit(r), F.array(F.lit(0))).otherwise(empty)
        else:
            whole = int(math.floor(r))
            frac = r - whole
            base = F.sequence(F.lit(0), F.lit(whole - 1))
            if frac > 0:
                arr = F.when(
                    uniform_hash_unit(id_col, f"{salt}:{d}:{whole}") < F.lit(frac),
                    F.concat(base, F.array(F.lit(whole))),
                ).otherwise(base)
            else:
                arr = base
        cond = F.col(strata_col) == F.lit(d)
        copies = F.when(cond, arr) if copies is None else copies.when(cond, arr)
    return df.withColumn(copy_col, F.explode(copies.otherwise(empty)))
