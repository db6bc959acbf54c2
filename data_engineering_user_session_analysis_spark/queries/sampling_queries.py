"""Driver-checked row for the deterministic sampling/split tier
(``operators/sampling.py``), whose correctness previously rested on
pytest alone (round-7 review).

The md5-threshold math is engine-portable by construction (DuckDB's
``md5`` + hex-slice reproduces ``uniform_hash_unit`` byte for byte —
pinned in tests/test_sampling.py), so the oracle replays the exact
split/sample/rate decisions and any drift in the hash, the salt
separator, the cumulative thresholds, or the CASE rate table breaks
the row's value hash.

All weights and rates here are DYADIC rationals (0.5, 0.25, 0.125)
on purpose: every cumulative threshold the Python normalization
produces is an exact binary double equal to the SQL literal, so a
``u < t`` comparison can never straddle a rounding difference
between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.sampling import (
    _key_hash,
    apply_mixture,
    deterministic_split,
    mixture_rates,
    sample_fraction,
    stratified_sample_by_rates,
)
from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.tables import load_table

_SPLITS = {"train": 0.5, "val": 0.25, "test": 0.25}
_RATES = {"en": 0.5, "de": 0.25}
_DEFAULT_RATE = 0.125


@register(
    "sample_split_counts",
    """
WITH u AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)) AS BIGINT)
      / 4294967296.0 AS u_split,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT)
      / 4294967296.0 AS u_mix,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strata'), 1, 8)) AS BIGINT)
      / 4294967296.0 AS u_strata,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS id_hash
  FROM documents
), labeled AS (
  SELECT *,
    CASE WHEN u_split < 0.5 THEN 'train'
         WHEN u_split < 0.75 THEN 'val'
         ELSE 'test' END AS split,
    u_mix < 0.5 AS in_mix,
    u_strata < (CASE lang WHEN 'en' THEN 0.5
                          WHEN 'de' THEN 0.25
                          ELSE 0.125 END) AS in_strata
  FROM u
)
SELECT split,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(id_hash) AS BIGINT) AS id_checksum,
  CAST(count(CASE WHEN in_mix THEN 1 END) AS BIGINT) AS n_sampled,
  CAST(coalesce(sum(CASE WHEN in_mix THEN id_hash END), 0) AS BIGINT)
    AS sampled_checksum,
  CAST(count(CASE WHEN in_strata THEN 1 END) AS BIGINT) AS n_rate_kept
FROM labeled GROUP BY split
""",
)
def sample_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split audit of the deterministic sampling tier: label every
    document with ``deterministic_split`` (train/val/test by salted
    cumulative hash thresholds), then count — per split — the
    survivors of an independent ``sample_fraction`` draw (salt
    ``mix``: the draws must NOT correlate with the split) and of a
    per-language ``stratified_sample_by_rates`` CASE table, plus an
    id-hash checksum of each membership set (counts alone would miss
    a wrong-rows/right-count defect).

    Plan shape (verified via .explain): the samplers are pure
    map-side filters; the three aggregate branches each scan
    documents COLUMN-PRUNED to doc_id (+lang for the rate branch) —
    the wide text column never leaves parquet — and the three ≤3-row
    results meet in broadcast joins with zero Python stages.  At
    100 TB the audit reads two narrow columns three times; the
    production samplers themselves stay single-scan filters."""
    docs = load_table(spark, sf_dir, "documents")
    split = deterministic_split(docs, _SPLITS, id_col="doc_id")
    id_hash = _key_hash(F.col("doc_id"))
    base = split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(id_hash).alias("id_checksum"),
    )
    sampled = (
        sample_fraction(split, 0.5, id_col="doc_id", salt="mix")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(id_hash).alias("sampled_checksum"),
        )
    )
    kept = (
        stratified_sample_by_rates(
            split,
            _RATES,
            strata_col="lang",
            id_col="doc_id",
            default_rate=_DEFAULT_RATE,
            salt="strata",
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_rate_kept"))
    )
    return (
        base.join(F.broadcast(sampled), "split", "left")
        .join(F.broadcast(kept), "split", "left")
        .select(
            "split",
            "n_docs",
            "id_checksum",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("sampled_checksum", F.lit(0)).cast("long").alias(
                "sampled_checksum"
            ),
            F.coalesce("n_rate_kept", F.lit(0)).alias("n_rate_kept"),
        )
    )


# Mixture inputs chosen so every mixture_rates output is an EXACT
# binary double (the oracle replays them as SQL literals): caps
# en 1792·2/0.5 = 7168, de 256·2/0.25 = 2048, fr 224·2/0.25 = 1792
# → binding domain fr, total 1792, rates {en: 0.5, de: 1.75, fr: 2.0}
# — one stratum per realization path (downsample / whole+fractional
# upsample / whole-copy upsample); zh and es carry no target share
# and must be dropped.
_AVAILABLE = {"en": 1792.0, "de": 256.0, "fr": 224.0}
_SHARES = {"en": 0.5, "de": 0.25, "fr": 0.25}
_MAX_REPEAT = 2.0


@register(
    "mixture_realization_counts",
    """
WITH u AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mixture'), 1, 8)) AS BIGINT)
      / 4294967296.0 AS u_mix,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mixture:de:1'), 1, 8)) AS BIGINT)
      / 4294967296.0 AS u_de1,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS id_hash
  FROM documents
), realized AS (
  SELECT lang, doc_id, id_hash, 0 AS cp FROM u WHERE lang = 'en' AND u_mix < 0.5
  UNION ALL SELECT lang, doc_id, id_hash, 0 FROM u WHERE lang = 'de'
  UNION ALL SELECT lang, doc_id, id_hash, 1 FROM u WHERE lang = 'de' AND u_de1 < 0.75
  UNION ALL SELECT lang, doc_id, id_hash, 0 FROM u WHERE lang = 'fr'
  UNION ALL SELECT lang, doc_id, id_hash, 1 FROM u WHERE lang = 'fr'
)
SELECT lang,
  CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.75 ELSE 2.0 END AS DOUBLE)
    AS rate,
  'fr' AS binding_domain,
  CAST(1792.0 AS DOUBLE) AS total_mass,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(sum(id_hash * (cp + 1)) AS BIGINT) AS row_checksum,
  CAST(max(cp) AS BIGINT) AS max_copy
FROM realized GROUP BY lang
""",
)
def mixture_realization_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain audit of the data-mixture tier: ``mixture_rates``
    solves the binding-domain LP driver-side (config-sized dicts) and
    ``apply_mixture`` realizes it map-side — en downsampled at 0.5
    (CASE-rate filter), de upsampled at 1.75 (one whole copy plus a
    hash-selected fractional epoch, salt ``mixture:de:1``), fr
    duplicated at exactly 2.0, zh/es dropped.  The row emits the
    COMPUTED solve outputs (rate per domain, binding domain, total
    mass) as columns next to realized counts, distinct-doc counts, a
    copy-weighted id-hash checksum (pins WHICH rows carry the extra
    epoch, not just how many), and the max copy index; the oracle
    replays the salted md5 epoch selection byte for byte and
    hardcodes the expected solve, so drift in either the LP or the
    realization fails the hash.

    Plan shape: the samplers are literal CASE filters plus a
    ``sequence``/``explode`` copy fan-out — map-side end to end, one
    shuffle for the final 3-group aggregate; the scan is
    column-pruned to (doc_id, lang).  At 100 TB the realization is a
    single pass whose output size is rate·N by construction."""
    docs = load_table(spark, sf_dir, "documents")
    mr = mixture_rates(_AVAILABLE, _SHARES, max_repeat=_MAX_REPEAT)
    mixed = apply_mixture(
        docs.select("doc_id", "lang"),
        mr["rates"],
        strata_col="lang",
        id_col="doc_id",
        salt="mixture",
    )
    rate = None
    for d, r in mr["rates"].items():
        cond = F.col("lang") == F.lit(d)
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    id_hash = _key_hash(F.col("doc_id"))
    return mixed.groupBy("lang").agg(
        F.first(rate).alias("rate"),
        F.first(F.lit(mr["binding_domain"])).alias("binding_domain"),
        F.first(F.lit(float(mr["total"]))).alias("total_mass"),
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(id_hash * (F.col("copy") + F.lit(1))).alias("row_checksum"),
        F.max("copy").cast("long").alias("max_copy"),
    )
