"""Decontamination: planted overlaps are flagged with exact hit
counts, sub-n docs are skipped, and the corpus side joins without
shuffling (broadcast plan pin)."""

from __future__ import annotations

from data_engineering_user_session_analysis_spark.operators.decontamination import (
    contaminated_docs,
)
from data_engineering_user_session_analysis_spark.sources.tables import load_table

N = 5  # test n-gram width: the fixture corpus has short docs


def _benchmark(spark, sf_small):
    """An eval set planted from real corpus text: doc 0's first 8
    tokens (guaranteed n-gram overlap with doc 0) plus a prompt that
    shares no 5-gram with anything."""
    first = (
        load_table(spark, sf_small, "documents")
        .orderBy("doc_id")
        .first()
    )
    toks = first.text.split(" ")
    assert len(toks) >= 8
    return spark.createDataFrame(
        [
            (" ".join(toks[:8]),),
            ("zq xv qj wk vx kq jz xq wv kj",),
        ],
        "text string",
    ), first.doc_id, toks


def test_planted_contamination_flagged_exactly(spark, sf_small):
    corpus = load_table(spark, sf_small, "documents")
    bench, doc0, toks = _benchmark(spark, sf_small)
    flagged = {
        r.doc_id: r.n_hits
        for r in contaminated_docs(corpus, bench, n=N).collect()
    }
    assert doc0 in flagged
    # doc 0 shares exactly the benchmark's distinct 5-grams that
    # occur in its own text: the 8-token prompt has 4 of them
    assert flagged[doc0] >= 4
    # every flagged doc REALLY shares an n-gram: replay in python
    bench_grams = set()
    for r in bench.collect():
        bt = r.text.split(" ")
        for i in range(len(bt) - N + 1):
            bench_grams.add(" ".join(bt[i : i + N]))
    for r in corpus.collect():
        ct = r.text.split(" ")
        grams = {
            " ".join(ct[i : i + N]) for i in range(len(ct) - N + 1)
        }
        hits = len(grams & bench_grams)
        if r.doc_id in flagged:
            assert flagged[r.doc_id] == hits > 0
        else:
            assert hits == 0


def test_short_docs_never_flagged(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e f g")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([("a b c d e",)], "text string")
    flagged = contaminated_docs(corpus, bench, n=5).collect()
    assert [r.doc_id for r in flagged] == [2]


def test_corpus_side_joins_broadcast(spark, sf_small):
    """The gram probe must be a broadcast join: corpus shingles are
    never shuffled for the semi-join."""
    corpus = load_table(spark, sf_small, "documents")
    bench, _, _ = _benchmark(spark, sf_small)
    plan = contaminated_docs(corpus, bench, n=N)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
