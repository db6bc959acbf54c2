"""Text-analysis operators for corpus pipelines: language ID,
quality scoring, content fingerprinting, tokenizer accounting.

All pure Spark built-ins (split/filter/transform/regexp) — string
work stays inside whole-stage codegen; no Python in the hot path.
Heuristics are deliberately deterministic (no model weights) so the
DuckDB oracle can replay them exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword profiles (public common stopwords).
# Scoring = hit count over token occurrences; ties resolved by the
# declaration order below (a fixed priority chain, mirrored in SQL).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "la", "de", "los", "que"),
    "fr": ("le", "la", "les", "des", "un"),
}

# BPE-ish pre-tokenizer: word pieces, digit runs, or single non-space
# symbols (the standard GPT-2-style pre-split shape, sans lookbehind
# so every regex engine agrees).
BPE_TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add one `score_<lang>` column per profile: stopword hits over
    token occurrences."""
    toks = _tokens(text_col)

    def hit(words: tuple[str, ...]):
        # single-arg lambda: a 2-arg one would receive the element
        # INDEX as its second parameter (F.filter's (x, i) form).
        return lambda t: t.isin(*words)

    return df.withColumns(
        {
            f"score_{lang}": F.size(F.filter(toks, hit(words))).cast("long")
            for lang, words in LANG_PROFILES.items()
        }
    )


def predict_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax over profile scores with the fixed priority chain."""
    scored = lang_scores(df, text_col)
    langs = list(LANG_PROFILES)
    pred = F
    expr = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return scored.withColumn("predicted_lang", expr.otherwise(langs[-1]))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/diversity/stopword quality features + a composite score.

    The composite is a fixed linear blend evaluated in one expression
    order, so it is bit-deterministic across engines."""
    toks = _tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(F.array_distinct(toks)).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_PROFILES["en"]))
    ).cast("long")
    n_chars = F.length(text_col).cast("long")
    ttr = n_types / n_tokens.cast("double")
    stop_ratio = stop_hits / n_tokens.cast("double")
    mean_tok_len = (n_chars - (n_tokens - 1)) / n_tokens.cast("double")
    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "n_types": n_types,
            "type_token_ratio": ttr,
            "stopword_ratio": stop_ratio,
            "mean_token_len": mean_tok_len,
            "quality_score": ttr * 0.5 + stop_ratio * 0.3 + mean_tok_len * 0.04,
        }
    )


def doc_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 5,
    mod: int = 8,
) -> DataFrame:
    """MOD-p content fingerprints (the winnowing-family sampling used
    for copy detection): hash every word `gram`-gram with md5, keep
    hashes ≡ 0 (mod `mod`) — a content-defined ~1/mod sample that is
    stable under document edits elsewhere.  One row per selected
    fingerprint.

    Distinct grams come from the ``dedup`` shingle kernel (one Arrow
    pass) rather than a ``transform(sequence, i -> get(toks,i)...)``
    build: Catalyst interprets higher-order functions and re-evaluates
    the outer ``split()`` per element, which made the gram build
    dominate the scan (same lesson as ``shingle_docs``; equality of
    the two constructions is pinned in tests).  md5/conv/filter stay
    Catalyst-side."""
    from data_engineering_user_session_analysis_spark.operators.dedup import (
        _shingle_array_column,
    )

    toks = _tokens(text_col)
    hashed = F.transform(
        _shingle_array_column(text_col, gram),
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    selected = F.array_sort(
        F.filter(hashed, lambda h: h % mod == 0)
    )
    return (
        df.filter(F.size(toks) >= gram)
        .select(F.col(id_col), F.explode(selected).alias("fingerprint"))
    )


def bpe_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tokenizer accounting with the BPE-ish pre-split regex."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0)
    return df.withColumns(
        {
            "n_bpe_tokens": F.size(pieces).cast("long"),
            "n_word_tokens": F.size(_tokens(text_col)).cast("long"),
        }
    )


def ngram_repetition_features(
    df: DataFrame, text_col: str = "text", ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Token-level duplicate-n-gram fractions — the n-gram half of the
    Gopher repetition-filter family (the line half is vacuous on
    single-line documents).

    For each ``n``: ``n_{n}grams`` = token n-gram occurrences and
    ``dup_{n}gram_frac`` = fraction of those occurrences that repeat
    an earlier-seen n-gram (occurrences minus distinct, over
    occurrences).  The counts come from ONE Arrow-batched kernel pass
    (map-only, no shuffle) for the same reason ``dedup.shingle_docs``
    uses one: Catalyst interprets higher-order functions, and a
    ``transform(sequence(...), i -> concat(get(toks,i),...))`` gram
    build re-evaluates the outer ``split()`` per ELEMENT — measured
    ~15x slower than array-bound alternatives at 1M docs (a zip_with
    chain binds arrays once and is the pure-Catalyst fallback shape).
    The fraction is a single IEEE division of two exact integers
    (counting is engine-agnostic), so a SQL oracle replays it
    bit-for-bit.
    """
    fields = ", ".join(f"n_{n}grams long, dup_{n} long" for n in ns)
    names = [x for n in ns for x in (f"n_{n}grams", f"dup_{n}")]
    sizes = tuple(ns)

    @F.pandas_udf(fields)
    def _stats(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            toks = t.split(" ")
            rec = []
            for n in sizes:
                g = max(len(toks) - (n - 1), 0)
                d = (
                    g - len(set(zip(*(toks[j:] for j in range(n)))))
                    if g
                    else 0
                )
                rec.append(g)
                rec.append(d)
            rows.append(rec)
        return pd.DataFrame(rows, columns=names)

    out = df.withColumn("_ngr", _stats(F.col(text_col)))
    cols: dict[str, Column] = {}
    for n in ns:
        ng = F.col("_ngr")[f"n_{n}grams"]
        cols[f"n_{n}grams"] = ng
        cols[f"dup_{n}gram_frac"] = F.col("_ngr")[f"dup_{n}"] / F.greatest(
            ng, F.lit(1)
        ).cast("double")
    return out.withColumns(cols).drop("_ngr")
