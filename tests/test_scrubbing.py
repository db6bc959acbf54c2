"""N-gram repetition features: hand-computed fractions, short-document
edges, and non-vacuous signal on the fixture corpus."""

from __future__ import annotations

from data_engineering_user_session_analysis_spark.sources.tables import load_table


def test_ngram_repetition_hand_computed(spark):
    from data_engineering_user_session_analysis_spark.operators.text_analysis import (
        ngram_repetition_features,
    )

    # tokens: a b a b a -> bigrams [a b, b a, a b, b a] (4, 2 distinct)
    #                      trigrams [a b a, b a b, a b a] (3, 2 distinct)
    row = ngram_repetition_features(
        spark.createDataFrame([("a b a b a",)], "text string")
    ).first()
    assert (row.n_2grams, row.dup_2gram_frac) == (4, 2 / 4)
    assert (row.n_3grams, row.dup_3gram_frac) == (3, 1 / 3)


def test_ngram_repetition_short_doc_edges(spark):
    """Documents shorter than n must yield zero grams, not a
    descending-sequence artifact (sequence(0, -1) is [0, -1])."""
    from data_engineering_user_session_analysis_spark.operators.text_analysis import (
        ngram_repetition_features,
    )

    cases = {
        "a": (0, 0.0, 0, 0.0),
        "a b": (1, 0.0, 0, 0.0),
        "a a": (1, 0.0, 0, 0.0),
        "a a a": (2, 1 / 2, 1, 0.0),
        "": (0, 0.0, 0, 0.0),  # split('') -> [''] = one token
    }
    for text, want in cases.items():
        row = ngram_repetition_features(
            spark.createDataFrame([(text,)], "text string")
        ).first()
        got = (row.n_2grams, row.dup_2gram_frac, row.n_3grams, row.dup_3gram_frac)
        assert got == want, text


def test_ngram_repetition_nonvacuous_on_corpus(spark, sf_small):
    """The driver fixture has no newlines (line repetition is
    vacuous there) — the n-gram fractions are the non-vacuous
    repetition signal the doc_quality_scores row carries."""
    from data_engineering_user_session_analysis_spark.operators.text_analysis import (
        ngram_repetition_features,
    )

    docs = load_table(spark, sf_small, "documents")
    rows = ngram_repetition_features(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 <= r.dup_2gram_frac <= 1.0
        assert 0.0 <= r.dup_3gram_frac <= 1.0
        assert r.n_2grams == max(r.n_3grams + 1, 0) or r.n_3grams == 0
    # small-vocab fixture prose repeats bigrams
    assert any(r.dup_2gram_frac > 0 for r in rows)
