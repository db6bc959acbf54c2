"""Benchmark decontamination: flag training documents that overlap an
evaluation set.

The standard contamination check (GPT-3 appendix C / PaLM / Llama
data cards) is n-gram collision: a training doc is contaminated if it
shares at least ``min_hits`` distinct n-grams (n≈13 words) with any
benchmark doc.  This operator expresses that check Spark-first:

* both sides shingle with the same Arrow kernel the dedup family
  uses (``operators/dedup.py:shingle_docs``) — one code path, one
  set of semantics for "n-gram";
* the benchmark side is tiny relative to the corpus (thousands of
  eval prompts vs billions of docs), so its DISTINCT n-gram set is
  broadcast — the corpus-side join is map-only, NO shuffle of
  corpus data;
* per-doc hit counting is a partial aggregation on doc_id (the only
  shuffle, and only over matched rows — a vanishing fraction of the
  corpus).

At 100 TB the plan is: scan corpus → shingle (map) → broadcast-hash
semi-probe (map) → partial count → one small shuffle.  The benchmark
gram set at 13-gram granularity is bounded by benchmark token count
(~10^6 grams ≈ tens of MB) — inside broadcast budget by
construction; if a giant eval suite ever exceeds it, drop the
``broadcast`` hint and AQE degrades to a shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.dedup import shingle_docs

DEFAULT_NGRAM = 13


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = DEFAULT_NGRAM,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """``(id_col, n_hits)`` for corpus docs sharing >= ``min_hits``
    distinct n-grams with the benchmark.  Join the result back
    (left-anti) to drop contaminated docs, or inspect ``n_hits`` to
    tier the policy (exact-dup vs incidental overlap).

    Docs shorter than ``n`` tokens produce no shingles and are never
    flagged — mirroring the published protocols, which skip the
    check below the n-gram width.
    """
    if min_hits <= 0:
        raise ValueError(f"min_hits must be positive, got {min_hits}")
    bench_grams = (
        shingle_docs(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bid"),
                F.col(bench_text_col),
            ),
            text_col=bench_text_col,
            id_col="_bid",
            n=n,
        )
        .select("shingle")
        .distinct()
    )
    corpus_grams = shingle_docs(corpus, text_col, id_col, n)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )
