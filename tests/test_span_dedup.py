"""Exact-substring duplicate-span detection pins: hand-computed
coverage cases, a transparent brute-force reference on synthetic
docs, the cross-doc-only contract, the sampling knob, and fixture
non-vacuity."""

from __future__ import annotations

import hashlib

from data_engineering_user_session_analysis_spark.operators.span_dedup import (
    duplicated_span_stats,
    positional_window_hashes,
)

W = 5


def _docs(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )


def _brute(texts: dict[int, str], window: int, min_docs: int = 2):
    """Transparent reference: dict-based window index + interval
    union, no hashing shortcuts."""
    wins: dict[str, set[int]] = {}
    pos: dict[int, list[int]] = {}
    for d, t in texts.items():
        toks = t.split(" ")
        for i in range(len(toks) - window + 1):
            g = " ".join(toks[i : i + window])
            wins.setdefault(g, set()).add(d)
            pos.setdefault(d, [])
    for d, t in texts.items():
        toks = t.split(" ")
        for i in range(len(toks) - window + 1):
            g = " ".join(toks[i : i + window])
            if len(wins[g]) >= min_docs:
                pos[d].append(i)
    out = {}
    for d, ps in pos.items():
        if not ps:
            continue
        covered = set()
        for p in ps:
            covered.update(range(p, p + window))
        n_tokens = len(texts[d].split(" "))
        n_windows = n_tokens - window + 1
        out[d] = {
            "n_tokens": n_tokens,
            "n_windows": n_windows,
            "n_dup_windows": len(ps),
            "dup_tokens": len(covered),
        }
    return out


def _stats(spark, texts, **kw):
    rows = duplicated_span_stats(_docs(spark, texts), window=W, **kw).collect()
    return {r.doc_id: r.asDict() for r in rows}


def test_exact_clone_full_coverage(spark):
    t = "a b c d e f g h"
    got = _stats(spark, {1: t, 2: t})
    for d in (1, 2):
        r = got[d]
        assert r["n_tokens"] == 8 and r["n_windows"] == 4
        assert r["n_dup_windows"] == 4
        assert r["dup_window_frac"] == 1.0
        assert r["dup_tokens"] == 8
        assert r["dup_token_frac"] == 1.0


def test_shared_span_merged_interval(spark):
    # doc 2 embeds doc 1's tokens 0..6 ("a b c d e f g"): shared
    # 5-windows start at 0,1,2 in doc 1 -> merged coverage = 7 tokens,
    # not 3*5=15.
    got = _stats(
        spark,
        {
            1: "a b c d e f g x1 y1 z1",
            2: "p q a b c d e f g r s",
        },
    )
    r1 = got[1]
    assert r1["n_dup_windows"] == 3
    assert r1["dup_tokens"] == 7
    assert r1["dup_token_frac"] == 0.7
    r2 = got[2]
    assert r2["n_dup_windows"] == 3
    assert r2["dup_tokens"] == 7


def test_disjoint_spans_sum(spark):
    # two disjoint shared 5-spans inside doc 1 (separated by unique
    # filler > window): coverage adds, windows don't bridge the gap.
    got = _stats(
        spark,
        {
            1: "a b c d e u1 u2 u3 u4 u5 u6 v w x y z",
            2: "a b c d e m n",
            3: "k v w x y z",
        },
    )
    r1 = got[1]
    assert r1["n_dup_windows"] == 2  # pos 0 and pos 11
    assert r1["dup_tokens"] == 10
    assert got[2]["n_dup_windows"] == 1 and got[2]["dup_tokens"] == 5
    assert got[3]["n_dup_windows"] == 1 and got[3]["dup_tokens"] == 5


def test_within_doc_repeat_not_duplicated(spark):
    # doc 1 repeats its own 5-gram twice but no other doc shares it:
    # cross-doc contract (min_docs=2 DISTINCT docs) excludes it.
    got = _stats(
        spark,
        {
            1: "a b c d e a b c d e",
            2: "completely different tokens here now",
        },
    )
    assert got == {}


def test_short_docs_excluded(spark):
    got = _stats(spark, {1: "a b c d", 2: "a b c d"})  # < W tokens
    assert got == {}


def test_matches_brute_force(spark):
    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "a quick brown fox jumps over the lazy dog tomorrow",
        3: "the quick brown fox jumps over the lazy dog today",
        4: "unrelated words that share nothing with the others here",
        5: "some prefix then the quick brown fox jumps over the lazy dog today suffix",
    }
    want = _brute(texts, W)
    got = _stats(spark, texts)
    assert set(got) == set(want)
    for d, exp in want.items():
        r = got[d]
        for k, v in exp.items():
            assert r[k] == v, (d, k, r, exp)
        assert r["dup_window_frac"] == exp["n_dup_windows"] / exp["n_windows"]
        assert r["dup_token_frac"] == exp["dup_tokens"] / exp["n_tokens"]


def test_window_hashes_are_md5_of_grams(spark):
    t = "a b c d e f"
    rows = positional_window_hashes(_docs(spark, {1: t}), window=W).collect()
    toks = t.split(" ")
    want = {
        i: hashlib.md5(" ".join(toks[i : i + W]).encode()).hexdigest()
        for i in range(2)
    }
    assert {r.pos: r.wh for r in rows} == want


def test_sample_mod_subsets_and_identity(spark):
    texts = {i: f"w{i % 3} " * 4 + " ".join(f"t{j}" for j in range(20)) for i in range(6)}
    full = positional_window_hashes(_docs(spark, texts), window=W)
    ident = positional_window_hashes(
        _docs(spark, texts), window=W, sample_mod=1
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, ident.collect()))
    sampled = positional_window_hashes(
        _docs(spark, texts), window=W, sample_mod=4
    ).collect()
    full_set = {(r.doc_id, r.pos, r.wh) for r in full.collect()}
    assert {(r.doc_id, r.pos, r.wh) for r in sampled} <= full_set
    assert all(int(r.wh[:8], 16) % 4 == 0 for r in sampled)


def test_fixture_non_vacuous(spark, sf_small):
    from data_engineering_user_session_analysis_spark.queries import QUERIES

    rows = QUERIES["dedup_exact_substring"](spark, sf_small).collect()
    # the fixture's exact-dup groups + planted near-dups flag >= 40
    # docs at the registry's 15-token window (measured 43 at sf0.001)
    assert len(rows) >= 40
    for r in rows:
        assert 1 <= r.n_dup_windows <= r.n_windows
        assert 0 < r.dup_token_frac <= 1.0
        assert 0 < r.dup_window_frac <= 1.0
    # at least one exact clone pair -> full coverage rows exist
    assert any(r.dup_token_frac == 1.0 for r in rows)


def test_min_docs_three_uses_distinct_count(spark):
    # min_docs > 2 takes the exact count-distinct path: a span shared
    # by exactly 2 docs no longer qualifies.
    got = _stats(
        spark,
        {
            1: "a b c d e x1 x2",
            2: "a b c d e y1 y2",
            3: "a b c d e z1 z2",
            4: "p q r s t w1",
            5: "p q r s t w2",
        },
        min_docs=3,
    )
    assert set(got) == {1, 2, 3}
    assert all(r["n_dup_windows"] == 1 and r["dup_tokens"] == 5 for r in got.values())
