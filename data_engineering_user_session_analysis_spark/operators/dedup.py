"""Deduplication operators for large-corpus pipelines.

Three tiers, ordered by cost/scale trade-off:

* **exact** — hash-groupBy on content digest (`queries/text_queries.py
  :dedup_exact`): one shuffle on a 16-byte key; the baseline.
* **n-gram Jaccard (exact near-dup)** — the DuckDB inverted-index
  SQL in `queries/dedup_queries.py`: shingle → self-join → pair
  intersection counts.  Exact but quadratic in per-shingle document
  frequency; the ground truth the approximate tiers are checked
  against.
* **MinHash + LSH (approximate near-dup)** — the 100 TB path:
  signature = min of k hash families over shingles, banded into
  buckets; only bucket-mates become candidate pairs, then candidates
  are verified with exact Jaccard.  Cost is linear in corpus size +
  candidate count, and every stage is a plain shuffle/groupBy —
  no driver-side state.

SimHash (bit-fingerprint near-dup) lives here too: 32-bit md5-derived
fingerprints, Hamming-distance pairing — cheap to compare (XOR +
popcount), cross-engine reproducible (md5, not murmur).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_user_session_analysis_spark.runtime import materialize

SIMHASH_BITS = 32


def _shingle_array_column(text_col: str, n: int) -> F.Column:
    """``array<string>`` of distinct word n-grams, first-occurrence
    order — an Arrow-batched kernel bit-identical to the Catalyst
    construction ``array_distinct(transform(sequence(0, size-n),
    i -> concat_ws(' ', get(toks,i)..get(toks,i+n-1))))``.

    Exists because Catalyst interprets higher-order functions (no
    whole-stage codegen): the transform+get+concat_ws tree costs ~20µs
    per shingle, which at sf0.1 made shingling (~5 s) the single most
    expensive stage of every MinHash-family query.  Python's
    ``str.split(' ')`` matches ``F.split(text, ' ')`` (both keep empty
    strings around repeated separators); equality with the HOF
    construction is pinned on the real corpus in
    tests/test_operators.py.  Map-only like the HOF — no shuffle, one
    Python hop per Arrow batch."""

    @F.pandas_udf("array<string>")
    def shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split(" ")
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    )
                )
            )
        return pd.Series(out)

    return shingles(F.col(text_col))


def shingle_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles, one row per (doc, shingle).

    Docs with fewer than n tokens produce no shingles (dropped from
    near-dup consideration, matching the oracle's `range` semantics).
    """
    toks = F.split(F.col(text_col), " ")
    return docs.filter(F.size(toks) >= n).select(
        F.col(id_col),
        F.explode(_shingle_array_column(text_col, n)).alias("shingle"),
    )


def _verify_jaccard(
    shingles: DataFrame, candidates: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard for exactly the ``candidates(doc_a, doc_b)``
    pairs: join each side to its collected shingle SET and intersect
    arrays.  Cost is O(|candidates| · doc size) — candidate-bounded.

    Round 2 verified via the full inverted-index join followed by a
    candidate semi-join, which still *computed* every co-shingle pair
    first (the semi-join cannot push below the shingle self-join), so
    the \"LSH scale path\" silently paid the same O(Σ DF²) as the
    exact method.  This shape is what makes LSH actually cheaper at
    corpus scale; equality with a brute-force Jaccard over the same
    candidates is pinned in tests/test_operators.py.

    The set collection is restricted to docs that appear in some
    candidate pair BEFORE it aggregates (r15): without the semi-join,
    ``collect_list`` shuffled EVERY doc's shingles — an O(corpus
    tokens) exchange that made the docstring's candidate-bounded
    claim false for the aggregation even though the joins honored it
    (inner joins on doc_a/doc_b discard non-candidate sets after
    they were built).  On a mostly-distinct corpus the candidate doc
    set is output-scale, so the exchange drops from O(all tokens) to
    O(candidate tokens); AQE broadcasts the id set while it fits, and
    if it ever shuffles instead, the groupBy reuses that exchange's
    partitioning (same key) — never worse than the unrestricted form.
    ``candidates`` feeds three consumers below (both id-projection
    branches + the pair join), and join-key IsNotNull inference breaks
    exchange-reuse canonicalization across them (the simhash r15
    lesson), so the output-bounded pair set is materialized once —
    LAZILY: an eager checkpoint serialized the whole candidate
    pipeline into its own pre-job, losing the intra-job overlap
    between the set aggregation and the signature/bucket stages
    (measured at 1M docs: eager warm-min 24.3-25.5 s vs 22.9-23.0 s
    unrestricted vs 23.6 s lazy — all inside one variant's own
    dispersion, but lazy removes the one mechanistic cost)."""
    # materialize(): localCheckpoint by default; reliable checkpoint
    # when the session has a checkpoint dir (cluster durability — see
    # runtime.materialize for the lineage trade-off)
    candidates = materialize(candidates, eager=False)
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sets = (
        shingles.join(cand_ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("sh_set"))
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("sh_set").alias("set_b"))
    # no broadcast hint: the candidate set scales with corpus size
    # (linear via LSH, but linear-in-100TB is still huge) — AQE
    # broadcasts while it fits and shuffles beyond.
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("long")
            .alias("intersection"),
            F.size("set_a").alias("na"),
            F.size("set_b").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("na") + F.col("nb") - F.col("intersection")).cast("double"),
        )
    )


def minhash_signatures(
    shingles: DataFrame,
    num_hashes: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """k-minhash signature per doc: one aggregation, k murmur3 hash
    families (seed mixed in as a hashed literal).

    Measured alternative, NOT adopted: hashing the shingle once and
    deriving the k families as affine mixes ``(a_i*h + b_i) mod
    (2^31-1)`` (the classic universal-hash minhash) was only ~25%
    faster on the warm signature stage at sf0.1 (0.52 s vs 0.70 s —
    min-aggregation and shuffle dominate, not the hashing), while
    collapsing the hash entropy to one 31-bit base value per shingle
    and changing every downstream band bucket.  Not worth the
    regression risk at that payoff; revisit only if profiles at real
    scale show the k string hashes dominating."""
    return shingles.groupBy(id_col).agg(
        *[
            F.min(F.hash(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_candidate_pairs(
    shingles: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH band-bucket candidate pairs from a shingle table: MinHash
    signatures → per-band bucket hash → distinct bucket-mate pairs."""
    sig = minhash_signatures(shingles, bands * rows_per_band, id_col)
    bucket_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select(
        F.col(id_col), F.explode(bucket_entries).alias("e")
    ).select(id_col, "e.band", "e.bucket")
    left = buckets.select(
        F.col(id_col).alias("doc_a"), "band", "bucket"
    )
    right = buckets.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Approximate near-dup pairs: MinHash signatures → LSH band
    buckets → candidate pairs → candidate-bounded exact-Jaccard
    verification (``_verify_jaccard`` — set intersection per
    candidate, NOT the O(Σ DF²) inverted-index join).

    With 16 bands x 4 rows, a pair at Jaccard 0.9 is caught with
    probability ~1 - (1 - 0.9^4)^16 ≈ 1 - 4e-8; at 0.5 ≈ 0.65 —
    tune bands/rows to the target threshold.  The verification step
    makes the *output* exact for every emitted pair (precision 1.0;
    recall is the LSH catch probability).
    """
    # shingles feed signatures + the verify set-collection; the
    # consuming action is the caller's, so the plan-keyed entry must
    # outlive this function.  It is plan-keyed (repeat calls share
    # ONE entry per input), MEMORY_AND_DISK, LRU-evictable.
    sh = shingle_docs(docs, text_col, id_col, n).cache()
    candidates = minhash_candidate_pairs(sh, bands, rows_per_band, id_col)
    return (
        _verify_jaccard(sh, candidates, id_col)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "jaccard")
    )


def exact_dup_star_edges(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate groups as STAR edges: ``(doc_a=rep, doc_b=member)``
    with rep = min id per identical-content group — g-1 edges per
    group instead of the g²/2 all-pairs a near-dup pair join emits.

    Returns ``(edges, representatives)`` where ``representatives`` is
    one ``(id_col)`` row per distinct content (the min-id member).
    This is the linearizing pre-pass for every near-dup pipeline on a
    re-crawl corpus: run the (approximate) near-dup stage on the
    representatives only, union its pairs with these star edges, and
    feed ``connected_components`` unchanged.
    Connectivity — and therefore clusters and canonical ids — is
    IDENTICAL to the all-pairs form: members of an exact group are
    connected through their rep, and a rep's near-dup relations equal
    any member's because their text is identical (equality pinned in
    tests/test_operators.py, clone-heavy corpus included).  Cost: one
    hash groupBy on a 16-byte digest + one output-sized join; no
    stage is quadratic in clone-group size.
    """
    digests = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_digest")
    )
    reps = digests.groupBy("_digest").agg(F.min(id_col).alias("_rep"))
    # the equi-join back is NOT null-safe (deliberate): null-text rows
    # get no star edges and stay singletons — exactly what the
    # all-pairs near-dup forms do with them (null text shingles to
    # nothing), preserving the pinned component equivalence
    edges = (
        digests.join(reps, "_digest")
        .filter(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("doc_a"), F.col(id_col).alias("doc_b"))
    )
    return edges, reps.select(F.col("_rep").alias(id_col))


def minhash_dedup_edges(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Linear-output near-dup edge set: exact-dup star edges UNION
    MinHash/LSH pairs over the exact-dup REPRESENTATIVES only.

    Same connected components as ``minhash_lsh_pairs`` over the full
    corpus (see ``exact_dup_star_edges`` for the argument; pinned in
    tests), but edge count is O(N + near-dup pairs among distinct
    texts) instead of quadratic in clone-group size — the production
    form for re-crawl corpora, and the pipeline the 100× doc-tier
    stress measures.  Recall is unchanged: exact clones are caught
    deterministically by the digest groupBy (better than the LSH
    catch probability), and cross-group recall is the same because
    identical texts have identical signatures.

    Output columns: ``doc_a, doc_b, edge_type`` (``exact`` star edge
    or ``neardup`` verified pair).  ``connected_components`` ignores
    the extra column.
    """
    star, reps = exact_dup_star_edges(docs, text_col, id_col)
    rep_docs = docs.join(reps, id_col, "left_semi")
    near = minhash_lsh_pairs(
        rep_docs,
        threshold=threshold,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
        text_col=text_col,
        id_col=id_col,
    )
    return near.select("doc_a", "doc_b").withColumn(
        "edge_type", F.lit("neardup")
    ).unionByName(star.withColumn("edge_type", F.lit("exact")))


#: Edge-count budget under which components are solved on the driver.
#: 5M (u, v) longs ≈ 80 MB — the same order as Spark's own
#: driver-collect budget for broadcast-join sides.  Above it, the
#: distributed rounds run.
DRIVER_CC_MAX_EDGES = 5_000_000


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(node, component)`` where the component id is the MINIMUM node
    id in the component — the step that turns pairwise dedup output
    into dedup *clusters* (keep one doc per component).

    Two execution strategies, picked from the MEASURED edge count the
    same way AQE picks broadcast joins from measured sizes:

    - pair count ``<= driver_max_edges``: run union-find with path
      halving on the driver — O(E α(E)), no iteration.  The size
      probe IS the collection (``limit(budget + 1).collect()``), so
      the pair pipeline is computed exactly once; union-find needs
      neither symmetrized nor deduped edges.  Near-dup pair graphs
      are orders of magnitude smaller than the corpus (only docs in
      some pair appear), so even at 100 TB this is the common case;
      the budget caps driver memory at broadcast-class size (~80 MB
      at the default).
    - larger graphs: iterative min-label propagation with pointer
      jumping (hash-to-min family).  Each round every node takes the
      min of its own and its neighbors' labels, then labels are
      pointer-jumped (``label[v] = label[label[v]]``), collapsing
      chains in O(log n) rounds instead of O(diameter).  All
      operations are plain joins/groupBys shuffling on node id; each
      round is localCheckpoint-ed so lineage stays constant, and the
      loop's shuffle width is sized from the edge count.  The
      convergence check is one count() every SECOND round (plus the
      last): a no-change round is a fixed point, so convergence is
      detected at worst one round late for half the actions.

    Both paths produce identical output (min-id component labels are
    unique); equality is pinned on the real corpus in
    tests/test_operators.py.
    """
    spark = pairs.sparkSession
    # Short-lived persist, owned HERE (callers must not persist the
    # pair table themselves — a query-function persist with no
    # consuming action to unpersist after is a session-lifetime cache
    # leak): the pair pipeline is read up to three times below (size
    # probe + both union branches), and the cache is dropped before
    # returning either way — the returned plan never references it
    # (driver path is built from collected edges, distributed path
    # from an eager localCheckpoint).
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    try:
        if driver_max_edges > 0:
            # size probe == collection: one pass over the pair pipeline.
            # toPandas (Arrow when enabled) keeps the driver copy at raw
            # value width — python Row objects would cost ~10x the bytes
            # at the 5M-edge budget.
            probe = raw.limit(driver_max_edges + 1).toPandas()
            if len(probe) <= driver_max_edges:
                return _driver_components(
                    spark,
                    zip(probe.iloc[:, 0].tolist(), probe.iloc[:, 1].tolist()),
                    raw.schema["u"].dataType,
                )
        edges = (
            raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            # materialize ONCE: the edge table re-enters every round's
            # neighbor join — without this, each round recomputes the
            # whole upstream pair pipeline (e.g. the full MinHash+verify
            # DAG when called from dedup_clusters)
        )
        # materialize(): lineage cut is load-bearing here (every CC
        # round re-enters the edge table); reliable checkpoint when a
        # checkpoint dir is set, else localCheckpoint (runtime.materialize)
        edges = materialize(edges, eager=True)
    finally:
        raw.unpersist()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    labels = materialize(labels, eager=True)
    # Distributed rounds.  Size the loop's shuffle width from the
    # measured edge count: every round compiles joins between
    # stat-less LogicalRDDs at the session's static shuffle width —
    # at modest graph sizes that is hundreds of near-empty tasks per
    # round, and the per-round checkpoint materializes before AQE can
    # coalesce.  One reduce task per ~1M edges keeps 100 TB graphs
    # wide while collapsing small ones to few-task rounds.
    # NOTE: the width override is session-scoped while the loop runs
    # (restored in finally) — plans compiled concurrently on OTHER
    # driver threads during those seconds would pick it up.  Run CC
    # from the thread that owns the session, as every caller here
    # does; a per-stage width knob does not exist in Spark's conf
    # model.
    n_edges = edges.count()
    width_key = "spark.sql.shuffle.partitions"
    sess_width = int(spark.conf.get(width_key))
    loop_width = max(1, min(sess_width, n_edges // 1_000_000 + 1))
    spark.conf.set(width_key, str(loop_width))
    try:
        labels = _cc_rounds(edges, labels, max_iter)
    finally:
        spark.conf.set(width_key, str(sess_width))
    return labels.select("node", F.col("label").alias("component"))


def _driver_components(spark, edge_rows, id_type) -> DataFrame:
    """Union-find with path halving over a driver-collected pair
    list (raw pairs: direction and duplicates are irrelevant);
    component id = min member id (union by min root)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for row in edge_rows:
        u, v = row[0], row[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # attach the larger root under the smaller: min id wins
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru

    out_schema = T.StructType(
        [
            T.StructField("node", id_type, False),
            T.StructField("component", id_type, False),
        ]
    )
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, out_schema)


def _cc_rounds(edges: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    """The min-label-propagation rounds of ``connected_components``,
    split out so the caller can scope the loop's shuffle width."""
    for round_no in range(1, max_iter + 1):
        neighbor_min = (
            edges.join(
                labels.select(F.col("node").alias("v"), F.col("label").alias("vl")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vl").alias("nmin"))
            .select(F.col("u").alias("node"), "nmin")
        )
        # the round-start label rides along as `_prev` so the
        # convergence check below is a filter-count over the round's
        # own checkpoint instead of a join of two O(nodes) label
        # tables (r16, guide §2.4: the join cost two extra exchanges
        # + an SMJ per check for 8 extra bytes/row in the checkpoint)
        stepped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                    "label"
                ),
                F.col("label").alias("_prev"),
            )
        )
        # pointer jump: label[v] <- label[label[v]] (total map: every
        # node owns a label row, labels are node ids)
        jumped = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("node").alias("label"), F.col("label").alias("ll")
                ).alias("b"),
                "label",
            )
            .select(
                F.col("node"),
                F.least("label", "ll").alias("label"),
                F.col("_prev"),
            )
        )
        jumped = materialize(jumped, eager=True)
        labels = jumped.select("node", "label")
        if round_no % 2 == 0 or round_no == max_iter:
            # a no-change round is a fixed point: min-propagation and
            # pointer jumping only ever LOWER labels, so label != _prev
            # on any node is exactly the old join-count's predicate
            changed = jumped.filter(F.col("label") != F.col("_prev")).count()
            if changed == 0:
                break
    return labels


def _md5_token_hash(col) -> F.Column:
    """First 32 bits of md5(token) as a non-negative long —
    reproducible in any engine (unlike murmur/xxhash)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """32-bit SimHash, term-frequency weighted: bit j of the
    fingerprint = sign of sum over token *occurrences* of (+1 if bit
    j of md5-hash(token) else -1).  TF weighting (vs distinct tokens)
    is what discriminates on small-vocabulary corpora where every doc
    contains nearly every word."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn("h", _md5_token_hash(F.col("tok")))
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fingerprint = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)),
        range(1, SIMHASH_BITS),
        F.when(F.col("b0") > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return bit_sums.select(
        F.col(id_col), fingerprint.cast("long").alias("fingerprint")
    )


def _block_bounds(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """Split ``bits`` into ``n_blocks`` contiguous (offset, width)
    ranges, widths differing by at most one."""
    base, extra = divmod(bits, n_blocks)
    bounds, off = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        bounds.append((off, width))
        off += width
    return bounds


def simhash_value_candidate_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 2,
) -> DataFrame:
    """Pigeonhole block candidates over DISTINCT fingerprint values:
    ``(fa, fb)`` with ``fa < fb``, superset of all value pairs within
    ``max_hamming``.

    This is the clone-robust candidate enumeration: on a re-crawl
    corpus where every doc has k exact clones, all k share one
    fingerprint value, so the block join's bucket sizes — and with
    them Σ bucket², the enumerated width — are those of the ORIGINAL
    corpus, not k× it (doc-level enumeration grows k² per group:
    STRESS r03 measured 674k → 67.6M candidates for 10× clone
    shards).  Expansion back to doc pairs happens only for VERIFIED
    value pairs, so that stage is output-bounded."""
    vals = fingerprints.select("fingerprint").distinct()
    n_blocks = max_hamming + 1
    block_entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("fingerprint"), off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for i, (off, width) in enumerate(_block_bounds(SIMHASH_BITS, n_blocks))
        ]
    )
    blocks = vals.select(
        F.col("fingerprint"), F.explode(block_entries).alias("e")
    ).select("fingerprint", "e.blk", "e.val")
    left = blocks.select(F.col("fingerprint").alias("fa"), "blk", "val")
    right = blocks.select(F.col("fingerprint").alias("fb"), "blk", "val")
    return (
        left.join(right, ["blk", "val"])
        .filter(F.col("fa") < F.col("fb"))
        .select("fa", "fb")
        .distinct()
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — pigeonhole block
    candidates, NOT an all-pairs cross join.

    The fingerprint is split into ``max_hamming + 1`` contiguous bit
    blocks; two fingerprints within Hamming distance ``max_hamming``
    differ in at most ``max_hamming`` bits, so at least one block is
    bit-identical (pigeonhole) — joining on (block index, block
    value) is LOSSLESS.  Candidates then get the exact XOR+popcount
    verification, so the output is identical to the all-pairs method
    (pinned by tests/test_operators.py) while candidate count drops
    from N²/2 to Σ per-bucket².  At 100 TB each of the 3 block joins
    is a plain shuffle on an ≤11-bit key; random fingerprints spread
    uniformly over the 2^width buckets.

    Fingerprint width: 32 bits (11-bit blocks) starts saturating its
    block space around ~10^5 docs on a small-vocabulary corpus
    (candidates grow as replicas² on a 10× clone-inflated corpus)
    — production corpora use 64-bit fingerprints (21-bit blocks,
    2^21 buckets).  A 60-bit variant (15 md5 hex
    chars, still a signed long in both engines) was measured on this
    fixture corpus and NOT adopted: its pairwise Hamming histogram
    has no separation cliff (counts rise smoothly 1,5,2,5,11,32,85…
    with the random mass centered ~20), so any threshold is
    arbitrary here, while the 32-bit construction keeps the clean
    planted-vs-random gap the oracle row demonstrates.  Widen
    SIMHASH_BITS for real corpora.
    """
    # Candidate enumeration runs at the distinct-fingerprint-VALUE
    # level (clone-robust — see simhash_value_candidate_pairs), then
    # expands verified value pairs to doc pairs:
    #   - cross-value pairs: two output-bounded equi-joins on the
    #     fingerprint value (each doc has exactly one fingerprint, so
    #     no pair is produced twice; least/greatest restores the
    #     doc_a < doc_b convention since value order != id order);
    #   - same-value groups (hamming 0, where clone mass lives): one
    #     self-equi-join on fingerprint — already output-sized, never
    #     enumerated through the block join at all.
    # fp enters the downstream plan SIX times (value-distinct blocks,
    # both cross-expansion sides, both same-value sides); materialize
    # it once.  AQE stage reuse only collapses the corpus passes to
    # TWO — the same-value self-join infers IsNotNull(doc_id) into its
    # scans, so those subtrees no longer canonicalize equal to the
    # rest (re-measured r15: 4 ReusedExchange of 6 subtrees) — and
    # every consumer still replays the 32-term fingerprint
    # reconstruction above the reused exchange.  One eager
    # localCheckpoint of the O(docs) (id, fingerprint) longs pins
    # exactly ONE tokenize+md5+bit-sum pass over the corpus at any
    # scale (measured at sf0.1: median 1.71 s vs 2.14 s, interleaved
    # min-of-5; .persist() measured SLOWER — materialization barrier
    # plus cache-scan overhead on every branch).
    # materialize(): eager localCheckpoint by default; reliable
    # checkpoint when a checkpoint dir is configured (cluster durability)
    fp = materialize(simhash_fingerprints(docs, text_col, id_col), eager=True)
    return simhash_pairs_from_fingerprints(fp, max_hamming, id_col)


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    max_hamming: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Hamming-verified near-dup pairs from an ``(id, fingerprint)``
    table.  Candidate enumeration runs at the distinct-fingerprint-
    VALUE level (clone-robust — see simhash_value_candidate_pairs),
    then expands verified value pairs to doc pairs:

    - cross-value pairs: two output-bounded equi-joins on the
      fingerprint value (each doc has exactly one fingerprint, so no
      pair is produced twice; least/greatest restores the
      doc_a < doc_b convention since value order != id order);
    - same-value groups (hamming 0, where clone mass lives): one
      self-equi-join on fingerprint — already output-sized, never
      enumerated through the block join at all.

    Property-tested against brute-force all-pairs over synthetic
    fingerprint tables (clone-heavy included) in tests/test_operators.py.
    """
    vver = simhash_value_candidate_pairs(fp, max_hamming).withColumn(
        "hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    ).filter(F.col("hamming") <= max_hamming)
    a = fp.select(F.col(id_col).alias("ia"), F.col("fingerprint").alias("fa"))
    b = fp.select(F.col(id_col).alias("ib"), F.col("fingerprint").alias("fb"))
    cross = (
        vver.join(a, "fa")
        .join(b, "fb")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )
    same = (
        a.join(b, F.col("fa") == F.col("fb"))
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("doc_a"),
            F.col("ib").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(same)
