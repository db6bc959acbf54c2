"""Text-analysis queries over the `documents` table — the
training-data-pipeline extension surface (token counting, exact
dedup).  All string work stays JVM-side (`pyspark.sql.functions`),
no Python UDFs in the hot path.

Round-2 consolidation (driver caps correctness rows at 50 — see
COVERAGE.md): ``doc_token_stats`` absorbed round 1's separate
``bpe_token_accounting`` (same lang grain, same table — one scan now
accounts whitespace AND BPE-regex tokens); the per-document quality
projection lives solely in ``doc_quality_scores``
(text_extended_queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.tables import load_table

@register(
    "doc_token_stats",
    """
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
    AS total_bpe_tokens,
  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
  CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
FROM documents GROUP BY lang
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per language, whitespace AND BPE-ish
    pre-split regex in one scan (distributed token accounting — the
    first thing a 100 TB corpus pipeline needs; the regex split
    approximates a byte-pair pre-tokenizer's word/number/punct
    boundaries)."""
    from data_engineering_user_session_analysis_spark.operators.text_analysis import bpe_token_counts

    docs = bpe_token_counts(load_table(spark, sf_dir, "documents"))
    tokens = F.size(F.split("text", " ")).cast("long")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(tokens).alias("total_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.max(tokens).alias("max_tokens"),
    )


# Deterministic ~10% re-crawl shard: the same md5-bucket idiom as the
# hash-sampling query, reproducible in both engines.
_RECRAWL_PRED = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0"
)


@register(
    "dedup_exact",
    f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -(doc_id + 1) AS doc_id, text FROM documents
  WHERE {_RECRAWL_PRED}
)
SELECT md5(text) AS text_hash,
  CAST(count(*) AS BIGINT) AS dup_count,
  CAST(min(CASE WHEN doc_id >= 0 THEN doc_id END) AS BIGINT) AS canonical_doc_id
FROM corpus
GROUP BY md5(text)
HAVING count(*) > 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on content, keep the lowest
    doc_id as canonical.  At 100 TB this is the standard
    shuffle-on-digest pattern — the md5 shrinks shuffle payload from
    document bytes to 32 hex chars.

    The deduped corpus is the documents table plus a deterministic
    ~10% "re-crawled shard" (same texts, synthetic ids — the scenario
    exact dedup exists for; both engines build the identical union).
    Round 1 ran the bare table, which the fixture generator keeps
    exact-dup-free, so the green row was vacuous (0 rows); this row
    asserts real collapse (~50 duplicate groups at sf0.01).

    The synthetic shard uses the NEGATED id space (``-(doc_id+1)``)
    so it can never collide with genuine ids at any scale factor
    (round 2 shifted by +1e6, which a large-enough corpus overruns),
    and the canonical id is the min over GENUINE (non-negative) ids —
    identical output to the shifted-id construction at every SF."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 10
    recrawl = docs.filter(bucket == 0).withColumn(
        "doc_id", -(F.col("doc_id") + F.lit(1))
    )
    corpus = docs.unionByName(recrawl)
    return (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min(F.when(F.col("doc_id") >= 0, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
        )
        .filter(F.col("dup_count") > 1)
    )
