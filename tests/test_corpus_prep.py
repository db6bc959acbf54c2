"""End-to-end corpus prep: monotone survivor counts, stage
effectiveness on a corpus with planted junk, determinism, and the
packed output contract."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.pipelines.corpus_prep import (
    CorpusPrepConfig,
    prepare_corpus,
)
from data_engineering_user_session_analysis_spark.sources.tables import load_table


def _corpus_with_junk(spark, sf_small):
    """Real corpus + planted junk: an exact clone, a PII doc, a
    too-short doc, and a boilerplate doc (every word repeated)."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    first = docs.orderBy("doc_id").first()
    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [990001, 990002, 990003, 990004],
                "text": [
                    first.text,  # exact clone of doc 0 (higher id loses)
                    "contact me at alice@example.com for the offer "
                    "and more words to pass the length filter",
                    "too short",
                    "spam spam spam spam spam spam spam spam",
                ],
            }
        )
    )
    return docs.unionByName(extra), first.doc_id


def test_prepare_corpus_stages(spark, sf_small):
    corpus, first_id = _corpus_with_junk(spark, sf_small)
    result, report = prepare_corpus(
        corpus,
        config=CorpusPrepConfig(min_tokens=5, max_dup_line_frac=0.9),
    )
    # monotone: each stage only removes rows
    counts = list(report.values())
    assert counts == sorted(counts, reverse=True)
    assert report["input"] == corpus.count()
    # the short doc died at quality, the exact clone at exact dedup
    assert report["quality_filtered"] <= report["input"] - 1
    assert report["exact_deduped"] <= report["quality_filtered"] - 1
    surviving = {r.doc_id for r in result.select("doc_id").collect()}
    assert 990003 not in surviving  # too short
    assert 990001 not in surviving  # exact clone, min-id survives
    assert first_id in surviving
    # PII doc survives but scrubbed
    pii = result.filter(F.col("doc_id") == 990002).collect()
    if pii:  # may have been near-dup'd away; if present, must be clean
        assert "<EMAIL>" in pii[0].text
        assert "alice@example.com" not in pii[0].text


def test_prepare_corpus_stage_timings(spark, sf_small):
    # the optional caller-owned timing dict gets one entry per report
    # barrier, same keys/order, positive seconds
    corpus, _ = _corpus_with_junk(spark, sf_small)
    timings: dict[str, float] = {}
    _, report = prepare_corpus(
        corpus,
        config=CorpusPrepConfig(pack_budget=512),
        stage_timings=timings,
    )
    barrier_keys = [k for k in report if not k.startswith("split_")]
    assert list(timings) == barrier_keys
    assert all(v > 0 for v in timings.values())


def test_prepare_corpus_deterministic(spark, sf_small):
    corpus, _ = _corpus_with_junk(spark, sf_small)
    cfg = CorpusPrepConfig(sample_k=100, pack_budget=512)
    a, ra = prepare_corpus(corpus, config=cfg)
    b, rb = prepare_corpus(corpus.repartition(13), config=cfg)
    assert ra == rb
    rows_a = sorted((r.doc_id, r.pack_id) for r in a.collect())
    rows_b = sorted((r.doc_id, r.pack_id) for r in b.collect())
    assert rows_a == rows_b


def test_prepare_corpus_with_benchmark_and_packing(spark, sf_small):
    corpus, first_id = _corpus_with_junk(spark, sf_small)
    first = corpus.filter(F.col("doc_id") == first_id).first()
    toks = first.text.split(" ")
    bench = spark.createDataFrame([(" ".join(toks[:8]),)], "text string")
    cfg = CorpusPrepConfig(
        decontaminate_ngram=5, pack_budget=512, max_dup_line_frac=0.9
    )
    result, report = prepare_corpus(corpus, benchmark=bench, config=cfg)
    assert "decontaminated" in report and "packed" in report
    surviving = {r.doc_id for r in result.select("doc_id").collect()}
    assert first_id not in surviving  # contaminated by the benchmark
    # pack contract: every survivor has a pack, budget respected
    rows = result.select("doc_id", "n_tokens", "pack_id").collect()
    assert len(rows) == report["packed"] > 0
    packs: dict[int, int] = {}
    for r in rows:
        packs[r.pack_id] = packs.get(r.pack_id, 0) + r.n_tokens
    assert all(v <= 512 for v in packs.values())


def test_quantized_quantile_exact_and_layout_stable(spark):
    """The deterministic quantile: matches a pure-Python replay of the
    same grid algorithm, and is identical under repartitioning (the
    property percentile_approx does not guarantee)."""
    import math

    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.stats import quantized_quantile

    vals = [i / 997.0 for i in range(997)] + [0.25] * 50 + [None] * 3
    df = spark.createDataFrame([(v,) for v in vals], "score double")
    for p in (0.0, 0.3, 0.5, 0.9, 1.0):
        got = quantized_quantile(df, "score", p).collect()[0].threshold
        got2 = (
            quantized_quantile(df.repartition(13), "score", p)
            .collect()[0]
            .threshold
        )
        assert got == got2, f"layout-dependent at p={p}"
        # pure-python replay of the grid definition
        clean = sorted(v for v in vals if v is not None)
        q = 1e-6
        need = math.ceil(len(clean) * p)
        cum, t = 0, None
        from collections import Counter

        hist = Counter(math.floor(v / q) for v in clean)
        for b in sorted(hist):
            cum += hist[b]
            if cum >= need:
                t = b * q
                break
        assert got == t, (p, got, t)


def test_percentile_quality_floor_in_pipeline(spark, sf_small):
    """min_quality_percentile drops the bottom fraction by score —
    survivor counts shrink monotonically with p and the kept docs are
    exactly those at/above the quantized threshold."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.stats import quantized_quantile
    from data_engineering_user_session_analysis_spark.operators.scrubbing import (
        repetition_signals,
        scrub_pii,
    )
    from data_engineering_user_session_analysis_spark.operators.text_analysis import quality_features
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    base_cfg = CorpusPrepConfig(pack_budget=None)
    base, _ = prepare_corpus(docs, config=base_cfg)
    n_base = base.count()

    # p=0.9 must bite: the static filters already discard the
    # low-quality mass (min_tokens/dup-line correlate with score), so
    # only a high floor shrinks the survivor set further
    cfg = CorpusPrepConfig(pack_budget=None, min_quality_percentile=0.9)
    top, report = prepare_corpus(docs, config=cfg)
    n_top = top.count()
    assert 0 < n_top < n_base
    assert report["quality_filtered"] < n_base

    # kept set == docs whose score clears the same threshold the
    # operator computes, applied to the same quality frame
    quality = repetition_signals(
        quality_features(scrub_pii(docs, "text"), "text"), "text", line_sep=" "
    )
    thr = quantized_quantile(quality, "quality_score", 0.9).collect()[0].threshold
    scores = {r.doc_id: r.quality_score for r in quality.collect()}
    survivors = {r.doc_id for r in top.collect()}
    assert survivors and all(scores[d] >= thr for d in survivors)


def test_prepare_corpus_split_stage(spark, sf_small):
    """split_weights labels survivors with disjoint covering splits
    whose membership is stable under corpus growth — eval-set
    hygiene for an incrementally grown corpus."""
    corpus, _ = _corpus_with_junk(spark, sf_small)
    cfg = CorpusPrepConfig(split_weights={"train": 0.9, "val": 0.1})
    result, report = prepare_corpus(corpus, config=cfg)
    n = report["neardup_deduped"]
    assert report["split_train"] + report["split_val"] == n
    assert report["split_train"] > report["split_val"] > 0
    # stability: growing the corpus never moves an old doc's split
    assignments = {(r.doc_id, r.split) for r in result.select("doc_id", "split").collect()}
    grown = corpus.unionByName(
        corpus.limit(50).withColumn("doc_id", F.col("doc_id") + 5_000_000)
    )
    regrown, _ = prepare_corpus(grown, config=cfg)
    kept = {
        (r.doc_id, r.split)
        for r in regrown.select("doc_id", "split").collect()
        if r.doc_id < 5_000_000
    }
    # old docs present in both runs keep their split (clone additions
    # may dedup some away; those simply aren't compared)
    old_ids = {d for d, _ in assignments}
    assert {t for t in kept if t[0] in old_ids} <= assignments


def test_prepare_corpus_dup_ngram_gate(spark, sf_small):
    """The optional Gopher bigram-repetition gate kills boilerplate
    ('spam spam ...' has dup_2gram_frac ~ 1.0) that the word-grain
    dup_line gate would also catch — but ONLY when enabled, and
    without disturbing the other stages."""
    corpus, _ = _corpus_with_junk(spark, sf_small)
    cfg_off = CorpusPrepConfig(
        min_tokens=5, max_dup_line_frac=1.0, max_dup_2gram_frac=None
    )
    # the planted boilerplate is 8 tokens -> 7 bigrams, 1 distinct:
    # dup_2gram_frac = 6/7 ~ 0.857, so gate below that
    cfg_on = CorpusPrepConfig(
        min_tokens=5, max_dup_line_frac=1.0, max_dup_2gram_frac=0.8
    )
    surv_off, rep_off = prepare_corpus(corpus, config=cfg_off)
    surv_on, rep_on = prepare_corpus(corpus, config=cfg_on)
    ids_off = {r.doc_id for r in surv_off.select("doc_id").collect()}
    ids_on = {r.doc_id for r in surv_on.select("doc_id").collect()}
    assert 990004 in ids_off  # line gate at 1.0 lets boilerplate through
    assert 990004 not in ids_on  # bigram gate kills it
    # the gate is surgical: nothing else changes
    assert ids_off - ids_on == {990004}
    assert rep_on["quality_filtered"] == rep_off["quality_filtered"] - 1


def test_prepare_corpus_span_gate(spark, sf_small):
    """The optional ExactSubstr span gate kills a paste-heavy doc
    (most of its tokens covered by a >=15-token span copied from a
    longer real doc) that document-level near-dup dedup lets through
    (Jaccard ~0.28 at the planted shape), while the SOURCE doc -- same
    span, small fraction of a longer doc -- survives."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    src = (
        docs.withColumn("_n", F.size(F.split("text", " ")))
        .filter(F.col("_n") >= 80)
        .orderBy("doc_id")
        .first()
    )
    pasted = " ".join(
        src.text.split(" ")[:25] + ["zq1", "zq2", "zq3", "zq4", "zq5"]
    )
    corpus = docs.unionByName(
        spark.createDataFrame([(990010, pasted)], "doc_id long, text string")
    )
    base = dict(min_tokens=5, max_dup_line_frac=1.0, span_window=15)
    surv_off, rep_off = prepare_corpus(
        corpus, config=CorpusPrepConfig(**base, max_dup_span_frac=None)
    )
    surv_on, rep_on = prepare_corpus(
        corpus, config=CorpusPrepConfig(**base, max_dup_span_frac=0.6)
    )
    ids_off = {r.doc_id for r in surv_off.select("doc_id").collect()}
    ids_on = {r.doc_id for r in surv_on.select("doc_id").collect()}
    # coverage: 25/30 = 0.833 for the paste, 25/|src| <= 0.31 for the
    # source
    assert 990010 in ids_off and 990010 not in ids_on
    assert src.doc_id in ids_off and src.doc_id in ids_on
    assert "span_gated" not in rep_off
    assert rep_on["span_gated"] == len(ids_on)


def test_prepare_corpus_span_rewrite_keeps_canonical(spark, sf_small):
    """span_action='rewrite': the canonical-preserving alternative to
    the symmetric drop gate (ADVICE r12) — two mutually-pasted docs
    both SURVIVE, exactly one keeps the shared span's tokens, and the
    non-canonical copy is excised instead of the whole doc dying."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    # 20-token shared span + 10-token distinct tails: span coverage
    # 20/30 = 0.667 > 0.6 trips the gate for BOTH docs, while doc-level
    # 3-gram Jaccard ~= 18/38 = 0.47 < 0.6 ducks the near-dup dedup
    # stage that runs before the gate (the gate must see both docs to
    # exhibit its symmetric-removal semantics)
    span = " ".join(f"zsp{i}" for i in range(20))
    a = span + " " + " ".join(f"ta{i}" for i in range(10))
    b = span + " " + " ".join(f"tb{i}" for i in range(10))
    corpus = docs.unionByName(
        spark.createDataFrame(
            [(990020, a), (990021, b)], "doc_id long, text string"
        )
    )
    base = dict(min_tokens=5, max_dup_line_frac=1.0, span_window=15)
    # drop mode: both mutually-pasted docs exceed 0.6 coverage and
    # both die — the over-removal the config docstring documents
    surv_drop, _ = prepare_corpus(
        corpus, config=CorpusPrepConfig(**base, max_dup_span_frac=0.6)
    )
    ids_drop = {r.doc_id for r in surv_drop.select("doc_id").collect()}
    assert 990020 not in ids_drop and 990021 not in ids_drop
    # rewrite mode: both survive; the canonical (lowest (doc_id,pos))
    # keeps the span, the other is excised down to its tail
    surv_rw, rep_rw = prepare_corpus(
        corpus,
        config=CorpusPrepConfig(
            **base, max_dup_span_frac=0.6, span_action="rewrite"
        ),
    )
    rows = {
        r.doc_id: r.text
        for r in surv_rw.filter(
            F.col("doc_id").isin([990020, 990021])
        ).collect()
    }
    assert set(rows) == {990020, 990021}
    assert rows[990020].startswith("zsp0 zsp1")  # canonical kept intact
    assert "zsp0" not in rows[990021]  # non-canonical excised
    assert rows[990021] == " ".join(f"tb{i}" for i in range(10))
    assert "span_rewritten" in rep_rw and "span_gated" not in rep_rw


def test_prepare_corpus_span_action_validated(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    import pytest

    with pytest.raises(ValueError, match="span_action"):
        prepare_corpus(
            docs,
            config=CorpusPrepConfig(
                min_tokens=5, max_dup_span_frac=0.5, span_action="nope"
            ),
        )
    # ADVICE r13: validation is unconditional — a typo'd action must
    # raise even when the threshold gate is off
    with pytest.raises(ValueError, match="span_action"):
        prepare_corpus(
            docs, config=CorpusPrepConfig(min_tokens=5, span_action="nope")
        )


def test_prepare_corpus_rewrite_without_threshold(spark, sf_small):
    """ADVICE r13: span_action='rewrite' alone enables the stage —
    rewrite ignores the threshold, so requiring max_dup_span_frac made
    the config silently inert."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    span = " ".join(f"zsp{i}" for i in range(20))
    a = span + " " + " ".join(f"ta{i}" for i in range(10))
    b = span + " " + " ".join(f"tb{i}" for i in range(10))
    corpus = docs.unionByName(
        spark.createDataFrame(
            [(990020, a), (990021, b)], "doc_id long, text string"
        )
    )
    surv, rep = prepare_corpus(
        corpus,
        config=CorpusPrepConfig(
            min_tokens=5,
            max_dup_line_frac=1.0,
            span_window=15,
            span_action="rewrite",  # no max_dup_span_frac
        ),
    )
    assert "span_rewritten" in rep
    rows = {
        r.doc_id: r.text
        for r in surv.filter(F.col("doc_id").isin([990020, 990021])).collect()
    }
    assert rows[990020].startswith("zsp0 zsp1")
    assert "zsp0" not in rows[990021]
