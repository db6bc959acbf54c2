"""Registry entries for the text-analysis operators (language ID,
quality scoring, fingerprinting, tokenizer accounting), each with a
DuckDB oracle replaying the same deterministic heuristic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.decontamination import (
    contaminated_docs,
)
from data_engineering_user_session_analysis_spark.operators.text_analysis import (
    LANG_PROFILES,
    ngram_repetition_features,
    predict_lang,
    quality_features,
)
from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.tables import load_table


def _score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), t -> t IN ({words}))) "
        f"AS BIGINT) AS score_{lang}"
    )


def _predict_sql() -> str:
    langs = list(LANG_PROFILES)
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"


@register(
    "doc_quality_scores",
    f"""
WITH scored AS (
  SELECT doc_id, lang,
    {_score_sql('en')}, {_score_sql('de')}, {_score_sql('es')}, {_score_sql('fr')}
  FROM documents
), langp AS (
  SELECT doc_id, lang AS declared_lang,
    {_predict_sql()} AS predicted_lang,
    score_en, score_de, score_es, score_fr
  FROM scored
), feat AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
    CAST(len(list_filter(string_split(text, ' '),
         t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS stop_hits,
    CAST(length(text) AS BIGINT) AS n_chars,
    string_split(text, ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
    GREATEST(len(w) - 1, 0) AS n_2grams,
    GREATEST(len(w) - 1, 0) - len(list_distinct(
      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
    )) AS dup_2,
    GREATEST(len(w) - 2, 0) AS n_3grams,
    GREATEST(len(w) - 2, 0) - len(list_distinct(
      list_transform(range(1, len(w) - 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    )) AS dup_3
  FROM feat
)
SELECT feat.doc_id, n_chars, n_tokens, n_types,
  n_types / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
  stop_hits / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
  (n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
  n_types / CAST(n_tokens AS DOUBLE) * 0.5
    + stop_hits / CAST(n_tokens AS DOUBLE) * 0.3
    + (n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) * 0.04 AS quality_score,
  CAST(n_2grams AS BIGINT) AS n_2grams,
  dup_2 / CAST(GREATEST(n_2grams, 1) AS DOUBLE) AS dup_2gram_frac,
  CAST(n_3grams AS BIGINT) AS n_3grams,
  dup_3 / CAST(GREATEST(n_3grams, 1) AS DOUBLE) AS dup_3gram_frac,
  declared_lang, predicted_lang, score_en, score_de, score_es, score_fr
FROM feat
JOIN grams ON feat.doc_id = grams.doc_id
JOIN langp ON feat.doc_id = langp.doc_id
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (fixed linear
    blend, bit-deterministic).  The single quality projection over
    documents — round 1's overlapping ``doc_quality`` entry folded in
    here (``n_chars`` column; see COVERAGE.md), plus the token-level
    duplicate-n-gram fractions (``ngram_repetition_features``) round
    12 added to give the Gopher repetition family a NON-vacuous
    driver row: fixture docs are single-line (``dup_line_frac`` is
    pytest-pinned on synthetic multi-line docs) but their small
    vocabulary repeats bigrams heavily, so this row's dup fractions
    exercise the real counting path.  The oracle replays the same
    occurrences-minus-distinct construction; fractions are one IEEE
    division of exact integers on both engines.

    Round-12 consolidation: the ``lang_id`` row folded in here (same
    table, grain, and scan — the one corpus-quality pass a pipeline
    actually runs), freeing the 50-cap slot for
    ``dedup_exact_substring``: per-language stopword scores plus the
    fixed-priority argmax (`text_analysis.predict_lang`), each
    hash-checked against the SQL replay."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_repetition_features(
        quality_features(predict_lang(docs))
    ).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        "n_tokens",
        "n_types",
        "type_token_ratio",
        "stopword_ratio",
        "mean_token_len",
        "quality_score",
        "n_2grams",
        "dup_2gram_frac",
        "n_3grams",
        "dup_3gram_frac",
        F.col("lang").alias("declared_lang"),
        "predicted_lang",
        "score_en",
        "score_de",
        "score_es",
        "score_fr",
    )


# NOTE: the round-1..3 `doc_fingerprints` registry row was retired in
# round 4 (driver 50-row cap): its operator now feeds the
# n_fingerprints/min_fingerprint/max_fingerprint columns of
# `scalar_doc_functions` (function_queries.py), whose oracle replays
# the identical 5-gram/md5/mod-8 construction.  The operator itself
# stays: operators/text_analysis.py:doc_fingerprints.

#: Constant-K eval-prompt ids (literal, NOT derived from N — the
#: benchmark side stays 5 prompts at any corpus size, so its gram
#: set broadcast is O(k) forever; same policy as the kNN anchors).
DECON_PROMPT_IDS = (0, 101, 202, 303, 404)
DECON_PROMPT_TOKENS = 12
DECON_NGRAM = 5  # fixture docs are short; production uses 13


@register(
    "doc_decontamination",
    f"""
WITH bench AS (
  SELECT array_to_string(
    list_slice(string_split(text, ' '), 1, {DECON_PROMPT_TOKENS}), ' ') AS btext
  FROM documents WHERE doc_id IN {DECON_PROMPT_IDS}
), bgrams AS (
  SELECT DISTINCT unnest(list_transform(range(1, len(w) - 3),
    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS shingle
  FROM (SELECT string_split(btext, ' ') AS w FROM bench) WHERE len(w) >= 5
), cgrams AS (
  SELECT doc_id, unnest(
    list_distinct(list_transform(range(1, len(w) - 3),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 5
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM cgrams c JOIN bgrams b USING (shingle)
GROUP BY c.doc_id
HAVING count(*) >= 1
""",
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination flags: training docs sharing >= 1
    distinct n-gram with a fixed eval-prompt set (the GPT-3/PaLM
    contamination protocol, `operators/decontamination.py`).  The
    prompts are the 12-token prefixes of a
    CONSTANT literal doc-id set, so the broadcast side is O(k) at
    any corpus size; the corpus side is map-only until the per-doc
    hit count's one small shuffle.  Non-vacuous by construction —
    each prompt's source doc self-hits — and the oracle replays the
    gram join exactly."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id").isin(*DECON_PROMPT_IDS)).select(
        F.array_join(
            F.slice(F.split("text", " "), 1, DECON_PROMPT_TOKENS), " "
        ).alias("text")
    )
    return contaminated_docs(docs, bench, n=DECON_NGRAM, min_hits=1)


# NOTE: round 1's `bpe_token_accounting` registry entry was absorbed
# into `doc_token_stats` (text_queries.py) — same lang grain, same
# scan, whitespace + BPE-regex accounting in one row (COVERAGE.md).
# The operator itself stays: operators/text_analysis.py:bpe_token_counts.
