"""Exact-substring duplicate-span detection (the ExactSubstr dedup
family of Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better"): find spans of >= `window` consecutive
tokens that occur verbatim in more than one document, and score each
document by how much of it is covered by such spans.

The dedup operators in this repo already carry DOCUMENT-level
dedup (exact digest groups, MinHash/LSH, SimHash); this is the
finer grain — a press-release paragraph pasted into thousands of
otherwise-distinct pages is invisible to document-level Jaccard but
is exactly what substring dedup removes.  The public algorithm uses
a corpus-wide suffix array; the distributed re-expression here is
the standard hashed-window form (every position starts one
`window`-token rolling window; windows are md5-keyed so equality is
exact up to 128-bit collisions), which shuffles one fixed-width row
per token position — the same O(total tokens) the suffix array pays,
but in Spark's shuffle machinery instead of a shared-memory sort.

Scale notes (100 TB):
* The window build is one Arrow kernel pass (map-only, no shuffle).
  A Catalyst ``transform(sequence(...), i -> md5(concat_ws(...)))``
  build hits the interpreted-HOF trap (outer ``split()`` re-evaluated
  per element — measured ~15x at 1M docs, see
  ``text_analysis.ngram_repetition_features``).
* The one big shuffle is the groupBy on the 32-hex-char window hash.
  `sample_mod` is the content-defined-chunking knob for corpora where
  even that is too much: keep only windows whose hash ≡ 0 (mod p) —
  the winnowing-style ~1/p sample `doc_fingerprints` uses, stable
  under edits elsewhere in the doc.  Detection then finds duplicated
  spans whose sampled anchor windows collide (recall is a function of
  span length: a duplicated span of L tokens carries ~(L-window+1)/p
  sampled anchors), and coverage becomes a lower bound.
* At the standard ``min_docs=2`` the cross-doc flag is evaluated IN
  the hash shuffle itself (``min(doc_id) != max(doc_id)`` per hash —
  a window aggregate, so the kernel lineage runs once); ``min_docs >
  2`` falls back to an exact count-distinct groupBy + broadcast LEFT
  SEMI join, which re-walks the kernel on the probe side.  The
  per-doc interval merge is then a single lag() window over
  (doc_id, pos) — one shuffle keyed by doc, O(dup windows) state.
* Skew: the min_docs=2 window flag has NO map-side partial
  aggregation — every occurrence of one window hash lands in a
  single task's window partition, so a hash carried by millions of
  documents (viral boilerplate pasted corpus-wide) concentrates in
  one task.  Deliberate trade: the groupBy+semi-join form DOES
  combine map-side but re-evaluates the Arrow kernel lineage on the
  probe side (measured 2.7x slower at 1M docs — detection 128.1 →
  81.8 s), and AQE's skew-join split does not apply to window
  exchanges.  For corpora where single-hash occurrence counts are
  extreme, route around it: the ``min_docs > 2`` groupBy fallback is
  the skew-safe (map-side-combined) detection form.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Production window length from the public ExactSubstr protocol
#: (50 tokens).  The registry row uses 15 because fixture documents
#: are 10-100 tokens; the operator takes it as a parameter.
EXACTSUBSTR_WINDOW = 50


def positional_window_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = EXACTSUBSTR_WINDOW,
    sample_mod: int | None = None,
) -> DataFrame:
    """One row per token position: ``(id_col, pos, wh)`` where `wh`
    is the md5 hex of the `window`-token gram starting at `pos`
    (0-based).  Unlike the shingle kernel this keeps POSITIONS and
    repeats — coverage math needs both.  Docs shorter than `window`
    tokens produce no rows.

    ``sample_mod``: keep only hashes whose leading-32-bit value is
    ≡ 0 (mod `sample_mod`) — the content-defined ~1/p sample for the
    scale path (see module docstring).  None keeps every window.
    """

    @F.pandas_udf("array<struct<pos: int, wh: string>>")
    def _wh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split(" ")
            out.append(
                [
                    {
                        "pos": i,
                        "wh": hashlib.md5(
                            " ".join(toks[i : i + window]).encode("utf-8")
                        ).hexdigest(),
                    }
                    for i in range(len(toks) - window + 1)
                ]
            )
        return pd.Series(out)

    toks = F.split(F.col(text_col), " ")
    rows = (
        docs.filter(F.size(toks) >= window)
        .select(F.col(id_col), F.explode(_wh(F.col(text_col))).alias("w"))
        .select(id_col, F.col("w.pos").alias("pos"), F.col("w.wh").alias("wh"))
    )
    if sample_mod is not None:
        bucket = F.conv(F.substring("wh", 1, 8), 16, 10).cast("long")
        rows = rows.filter(bucket % sample_mod == 0)
    return rows


def _flagged_occurrences(
    wh: DataFrame, id_col: str, min_docs: int
) -> DataFrame:
    """The occurrences of cross-doc duplicated windows, from the
    positional rows.  At the standard ``min_docs=2`` the flag is
    simply ``min(doc_id) != max(doc_id)`` per hash — ONE window pass
    over the hash-shuffled rows, so the Arrow window kernel upstream
    evaluates once (the groupBy + semi-join form re-evaluates the
    whole kernel lineage on the probe side AND pays the exact
    count-distinct's two-exchange expand; measured 128 s → see the
    spandedup1m tier).  ``min_docs > 2`` needs a true distinct count,
    so it keeps the groupBy + broadcast-semi-join form and pays the
    second kernel pass.

    Skew exposure (module docstring, "Skew"): the window form has no
    map-side partial aggregation — a hash occurring in millions of
    docs funnels into one task; the ``min_docs > 2`` groupBy form is
    the map-side-combined alternative when that profile is known."""
    if min_docs <= 2:
        w_h = Window.partitionBy("wh")
        return (
            wh.withColumn("_mn", F.min(id_col).over(w_h))
            .withColumn("_mx", F.max(id_col).over(w_h))
            .filter(F.col("_mn") != F.col("_mx"))
            .drop("_mn", "_mx")
        )
    dup_hashes = (
        wh.groupBy("wh")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("wh")
    )
    return wh.join(dup_hashes, "wh", "left_semi")


def duplicated_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = EXACTSUBSTR_WINDOW,
    min_docs: int = 2,
    sample_mod: int | None = None,
) -> DataFrame:
    """Per-document duplicated-span statistics.  A window is
    *duplicated* when its hash occurs in >= `min_docs` DISTINCT
    documents (within-doc repetition is the Gopher n-gram filter's
    job, not this one's).  Only documents with at least one
    duplicated window are returned:

    * ``n_tokens`` / ``n_windows`` — whitespace tokens and window
      starts (``n_tokens - window + 1``);
    * ``n_dup_windows`` and ``dup_window_frac``;
    * ``dup_tokens`` — tokens covered by the UNION of the duplicated
      windows' ``[pos, pos+window-1]`` intervals (merged, not
      double-counted: sorted by pos, each window past the first
      contributes ``min(window, pos - prev_pos)``) and
      ``dup_token_frac`` over ``n_tokens``.

    Fractions are one IEEE division of exact integers, so a SQL
    oracle replays them bit-for-bit.  The removal/flag consumer is a
    trivial filter on ``dup_token_frac``.
    """
    wh = positional_window_hashes(
        docs, text_col, id_col, window=window, sample_mod=sample_mod
    )
    dup = _flagged_occurrences(wh, id_col, min_docs)
    # interval merge: sorted by pos, each window past the first
    # contributes min(window, pos - prev_pos) tokens
    w = Window.partitionBy(id_col).orderBy("pos")
    delta = F.col("pos") - F.lag("pos").over(w)
    contrib = F.when(delta.isNull(), F.lit(window)).otherwise(
        F.least(delta, F.lit(window))
    )
    per_doc = (
        dup.withColumn("_c", contrib)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.sum("_c").cast("long").alias("dup_tokens"),
        )
    )

    toks = F.split(F.col(text_col), " ")
    sizes = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - window + 1).cast("long").alias("n_windows"),
    )
    return per_doc.join(sizes, id_col).select(
        id_col,
        "n_tokens",
        "n_windows",
        "n_dup_windows",
        (F.col("n_dup_windows") / F.col("n_windows").cast("double")).alias(
            "dup_window_frac"
        ),
        "dup_tokens",
        (F.col("dup_tokens") / F.col("n_tokens").cast("double")).alias(
            "dup_token_frac"
        ),
    )
