"""Near-duplicate detection queries over `documents` — exact n-gram
Jaccard (ground truth), MinHash+LSH (the 100 TB path, verified so
its output matches the exact oracle), SimHash
near-pairs (md5-derived bits, pigeonhole-blocked candidates), and
cluster-level dedup (pairs → connected components → canonical ids —
the step that turns pairwise output into actual deduplication).

Consolidations (the driver caps correctness rows at 50 — COVERAGE.md
has the full mapping):

* The SimHash *fingerprint* operator has no separate registry entry
  (round 1's ``simhash_fingerprints``): the ``simhash_near_pairs``
  oracle recomputes every fingerprint from raw text in DuckDB, so a
  fingerprint defect would break that row's hash match.
* Round 2's ``dedup_ngram_jaccard`` row is retired (round 3).  The
  coverage chain: ``dedup_minhash_lsh``'s ORACLE is the exact
  inverted-index Jaccard SQL, and its Spark side shares the shingle
  construction (``shingle_docs``) and Jaccard formula — so a defect
  in shingling or the Jaccard math still breaks that row's hash
  match.  The minhash verify tier is the candidate-bounded
  ``_verify_jaccard`` (set intersection), pinned equal to a
  brute-force Jaccard by
  tests/test_operators.py::test_verify_jaccard_equals_inverted_index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.dedup import (
    SIMHASH_BITS,
    connected_components,
    minhash_lsh_pairs,
    simhash_pairs,
)
from data_engineering_user_session_analysis_spark.operators.span_dedup import (
    duplicated_span_stats,
)
from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.tables import load_table

_JACCARD_THRESHOLD = 0.5

#: Fixture-scale ExactSubstr window: documents are 10-100 tokens, so
#: the public protocol's 50 would exclude most of the corpus.  The
#: operator default stays 50 (span_dedup.EXACTSUBSTR_WINDOW).
SPAN_ROW_WINDOW = 15


def _jaccard_pair_ctes() -> str:
    """Shared oracle CTE chain ending in ``jpairs(doc_a, doc_b,
    intersection, jaccard)`` — the exact-Jaccard pairs at the
    threshold."""
    return f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(range(1, len(w) - 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
  FROM toks WHERE len(w) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jpairs AS (
  SELECT doc_a, doc_b, CAST(c AS BIGINT) AS intersection,
    c / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE c / CAST(sa.n + sb.n - c AS DOUBLE) >= {_JACCARD_THRESHOLD}
)"""


@register(
    "dedup_minhash_lsh",
    "WITH " + _jaccard_pair_ctes() + "\nSELECT * FROM jpairs",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs.  Oracle = the exact (uncapped)
    Jaccard method: every emitted pair is exact-Jaccard-verified
    (precision 1.0) and at this threshold/band layout LSH recall is
    ~1 - 4e-8 for the qualifying pairs, so the outputs coincide."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=_JACCARD_THRESHOLD)


@register(
    "dedup_exact_substring",
    f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), wh AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w) - {SPAN_ROW_WINDOW - 2}),
    i -> {{'pos': i - 1,
          'h': md5(array_to_string(list_slice(w, i, i + {SPAN_ROW_WINDOW - 1}), ' '))}})) AS u
  FROM toks WHERE len(w) >= {SPAN_ROW_WINDOW}
), f AS (
  SELECT doc_id, u.pos AS pos, u.h AS h FROM wh
), dups AS (
  SELECT h FROM f GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), dw AS (
  SELECT f.doc_id, f.pos FROM f JOIN dups USING (h)
), deltas AS (
  SELECT doc_id, pos,
    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS delta
  FROM dw
), cov AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
    CAST(sum(CASE WHEN delta IS NULL THEN {SPAN_ROW_WINDOW}
                  ELSE LEAST(delta, {SPAN_ROW_WINDOW}) END) AS BIGINT) AS dup_tokens
  FROM deltas GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(w) AS BIGINT) AS n_tokens,
  CAST(len(w) - {SPAN_ROW_WINDOW - 1} AS BIGINT) AS n_windows,
  cov.n_dup_windows,
  cov.n_dup_windows / CAST(len(w) - {SPAN_ROW_WINDOW - 1} AS DOUBLE) AS dup_window_frac,
  cov.dup_tokens,
  cov.dup_tokens / CAST(len(w) AS DOUBLE) AS dup_token_frac
FROM toks t JOIN cov USING (doc_id)
""",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate-span stats (the ExactSubstr dedup
    family — Lee et al. 2021 — as a hashed-window re-expression,
    `operators/span_dedup.py`): every SPAN_ROW_WINDOW-token rolling
    window is md5-keyed; windows occurring in >= 2 distinct docs mark
    duplicated spans; per doc the row reports dup-window counts and
    the MERGED-interval token coverage (sorted positions, each window
    past the first contributes min(window, pos-prev)).  Finer grain
    than every other dedup row: a paragraph pasted across otherwise-
    distinct pages is invisible to document-level Jaccard but flagged
    here.  The oracle replays the identical window/hash/merge
    construction; all fractions are one IEEE division of exact
    integers.  Scale: one Arrow window pass (map-only), one
    fixed-width shuffle per token position, a semi-join back, one
    per-doc lag() window — plus a winnowing-style `sample_mod` knob
    for corpora where even O(tokens) shuffle needs sampling."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, window=SPAN_ROW_WINDOW)


def _simhash_bits_sql() -> str:
    bit_sums = ",\n    ".join(
        f"SUM(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    fingerprint = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
), bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM h GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fingerprint} AS BIGINT) AS fingerprint FROM bits
)
"""


@register(
    "simhash_near_pairs",
    _simhash_bits_sql()
    + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 2
""",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming distance <= 2 of 32 (TF-weighted
    fingerprints put random pairs at ~10 on this corpus, planted
    near-dups at 0-5).  Candidates via lossless pigeonhole block
    joins (operators/dedup.py:simhash_pairs) — the oracle is the
    all-pairs ground truth, so the row proves the blocking loses
    nothing."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=2)


@register(
    "dedup_clusters",
    "WITH RECURSIVE "
    + _jaccard_pair_ctes()
    + """
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jpairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM jpairs
), reach AS (
  -- transitive closure: every node reaches itself and, recursively,
  -- its neighbors' reachable sets (UNION dedups -> terminates)
  SELECT DISTINCT u AS node, u AS r FROM edges
  UNION
  SELECT reach.node, e.v AS r FROM reach JOIN edges e ON reach.r = e.u
), comp AS (
  SELECT node, min(r) AS component FROM reach GROUP BY node
), sized AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
)
SELECT comp.node AS doc_id,
  CAST(comp.component AS BIGINT) AS canonical_doc_id,
  CAST(sized.cluster_size AS BIGINT) AS cluster_size,
  comp.node = comp.component AS is_canonical
FROM comp JOIN sized ON comp.component = sized.component
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup — the tail of the pipeline that makes
    near-dup detection actually DEDUPLICATE: the STAR-EDGE dedup
    graph (`operators/dedup.py:minhash_dedup_edges` — exact-dup star
    edges + MinHash/LSH pairs over representatives only, linear in
    clone mass where the all-pairs form is quadratic) → connected
    components (pointer-jumped min-label propagation,
    `operators/dedup.py:connected_components`) → one canonical
    (min-id) doc per cluster, with cluster sizes.

    The oracle replays the exact-Jaccard ALL-PAIRS graph and computes
    min-label components via a recursive transitive-closure CTE — the
    star graph's connectivity is identical by construction (members
    reach their representative; a rep's near-dup relations equal any
    member's), so the driver row now guards exactly that production
    equivalence.  Min-label components are deterministic, so this is
    a full hash-checked row, not rows-only.  Scale shape: O(log n)
    rounds of plain label-table joins; no driver-side graph state.
    Keeping one doc per cluster is a left-anti join of the docs
    against this output's non-canonical members."""
    from data_engineering_user_session_analysis_spark.operators.dedup import minhash_dedup_edges

    docs = load_table(spark, sf_dir, "documents")
    # No persist here: connected_components owns the pair-table cache
    # lifecycle internally (persist for its probe + union reads, then
    # unpersist).  A persist at this level has no consuming action
    # left to unpersist after — it would cache for the session
    # lifetime, leaking memory for every caller outside the bench.
    pairs = minhash_dedup_edges(docs, threshold=_JACCARD_THRESHOLD)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_doc_id"),
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
