"""Operator-equivalence and property tests: salted aggregation must
equal direct aggregation; sessionize must satisfy its invariants on
arbitrary inputs (Hypothesis)."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.operators.sessionize import sessionize
from data_engineering_user_session_analysis_spark.operators.skew import salted_agg
from data_engineering_user_session_analysis_spark.sources.events import load_events


def test_salted_agg_equals_direct(spark, sf_small):
    ev = load_events(spark, sf_small)
    direct = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        F.max("ts").alias("last_ts"),
    )
    salted = salted_agg(
        ev,
        ["user_id"],
        {"n": ("count", "event_id"), "v": ("sum", F.col("value").cast("decimal(18,2)")), "last_ts": ("max", "ts")},
        buckets=8,
    )
    assert direct.exceptAll(salted).count() == 0
    assert salted.exceptAll(direct).count() == 0


def _py_sessionize(events: list[tuple[int, datetime.datetime]], gap: int = 1800):
    """Pure-Python reference: native MICROSECOND gap semantics (the
    streaming session_window contract the batch operator matches)."""
    out = {}
    by_user: dict[int, list[tuple[int, datetime.datetime]]] = {}
    for eid, ts in events:
        by_user.setdefault(eid % 5, []).append((eid, ts))
    for user, evs in by_user.items():
        evs.sort(key=lambda e: (e[1], e[0]))
        seq = 0
        prev = None
        for eid, ts in evs:
            micros = int(
                ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
            )
            if prev is None or micros - prev > gap * 1_000_000:
                seq += 1
            out[eid] = (user, seq)
            prev = micros
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.datetimes(
                min_value=datetime.datetime(2024, 1, 1),
                max_value=datetime.datetime(2024, 3, 1),
            ),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda e: e[0],
    )
)
def test_sessionize_property(spark, events):
    expected = _py_sessionize(events)
    df = spark.createDataFrame(
        [(eid, ts, eid % 5) for eid, ts in events],
        "event_id long, ts timestamp, user_id long",
    )
    got = {
        r.event_id: (r.user_id, r.session_seq)
        for r in sessionize(df, order_cols=("event_id",)).collect()
    }
    assert got == expected


def test_sessionize_subsecond_boundary_pair(spark):
    """The round-1 hazard made explicit: a pair whose SECOND-truncated
    delta equals the gap while the true microsecond delta exceeds it
    must SPLIT (streaming session_window semantics); a pair at exactly
    the gap in microseconds must MERGE (strict >)."""
    base = datetime.datetime(2024, 1, 1, 12, 0, 0, 900_000)
    rows = [
        # user 0: truncated delta = 1800 s, true delta = 1800.05 s -> split
        (1, base, 0),
        (2, base + datetime.timedelta(seconds=1800, milliseconds=50), 0),
        # user 1: true delta exactly 1800.000000 s -> merge (strict >)
        (3, base, 1),
        (4, base + datetime.timedelta(seconds=1800), 1),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    got = {
        r.event_id: r.session_seq
        for r in sessionize(df, order_cols=("event_id",)).collect()
    }
    assert got[1] == 1 and got[2] == 2, got  # split
    assert got[3] == 1 and got[4] == 1, got  # merge


def test_salted_agg_spreads_identical_rows(spark):
    """A hot key made of IDENTICAL rows (the realistic skew case) must
    land in multiple salt buckets — content-derived salt would put
    them all in one (round-1 defect)."""
    from data_engineering_user_session_analysis_spark.operators.skew import _salt

    df = spark.range(0, 10_000).select(
        F.lit(7).alias("user_id"), F.lit(1.0).alias("value")
    ).repartition(8)
    # the salt salted_agg itself gives each row when no row key is passed
    n_buckets = df.select(_salt(16, None).alias("s")).distinct().count()
    assert n_buckets > 1, "identical-row hot key concentrated in one salt bucket"
    # and the end-to-end result is still exact
    out = salted_agg(
        df, ["user_id"], {"n": ("count", "value"), "v": ("sum", "value")}, buckets=16
    ).collect()
    assert len(out) == 1 and out[0].n == 10_000 and out[0].v == 10_000.0


def test_simhash_blocking_equals_all_pairs(spark, sf_small):
    """Pigeonhole block candidates are LOSSLESS for hamming <= 2: the
    blocked operator must emit exactly the all-pairs result."""
    from data_engineering_user_session_analysis_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    blocked = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=2).collect()
    }
    fp = simhash_fingerprints(docs)
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("fingerprint").alias("fa"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("fingerprint").alias("fb"))
    brute = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= 2)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
        .collect()
    }
    assert blocked == brute
    assert brute, "fixture produced no near pairs — test is vacuous"


def test_verify_jaccard_equals_inverted_index(spark, sf_small):
    """The candidate-bounded set-intersection verify must emit exactly
    the exact Jaccard of every candidate pair — the intersection and
    Jaccard a full inverted-index join would give, computed here by
    brute force over the collected shingle sets."""
    from data_engineering_user_session_analysis_spark.operators.dedup import (
        _verify_jaccard,
        minhash_candidate_pairs,
        shingle_docs,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    sh = shingle_docs(docs).cache()
    cand = minhash_candidate_pairs(sh)
    via_sets = {
        (r.doc_a, r.doc_b, r.intersection, r.jaccard)
        for r in _verify_jaccard(sh, cand, "doc_id").collect()
    }
    sets: dict[int, set[str]] = {}
    for r in sh.collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    brute = set()
    for r in cand.collect():
        a, b = sets[r.doc_a], sets[r.doc_b]
        inter = len(a & b)
        brute.add((r.doc_a, r.doc_b, inter, inter / float(len(a) + len(b) - inter)))
    sh.unpersist()
    assert via_sets == brute
    assert via_sets, "no candidate pairs — test is vacuous"


def _uf_components(edges):
    """Python union-find reference."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    """Chains, triangles, isolated pairs — the Spark iterative
    min-label propagation must match python union-find exactly."""
    from data_engineering_user_session_analysis_spark.operators.dedup import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),          # chain -> comp 1
        (10, 11), (11, 12), (10, 12),            # triangle -> comp 10
        (20, 21),                                # pair -> comp 20
        (30, 31), (32, 33), (31, 32),            # merged chains -> comp 30
        (41, 40),                                # reversed order pair -> 40
    ]
    expected = _uf_components(edges)
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    # default: driver union-find fast path (graph under the budget)
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == expected
    # forced distributed rounds must produce the identical labeling
    got_dist = {
        r.node: r.component
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert got_dist == expected


def test_embedding_cluster_dedup_end_to_end(spark, sf_small):
    """The cluster tail composes across modalities: embedding
    near-dup pairs (hyperplane LSH) → connected components must match
    python union-find over the same pairs, on a fixture with
    near-dup vectors."""
    from data_engineering_user_session_analysis_spark.operators.dedup import connected_components
    from data_engineering_user_session_analysis_spark.operators.vector_lsh import (
        lsh_similarity_pairs,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    pairs = lsh_similarity_pairs(emb, threshold=0.4)
    expected = _uf_components(
        [(r.vec_a, r.vec_b) for r in pairs.select("vec_a", "vec_b").collect()]
    )
    assert any(n != c for n, c in expected.items()), (
        "fixture has near-dup vectors; some must cluster"
    )
    got = {
        r.node: r.component
        for r in connected_components(pairs, "vec_a", "vec_b").collect()
    }
    assert got == expected


def test_connected_components_long_chain_converges(spark):
    """A 1000-node path graph needs O(log n) pointer-jump rounds, not
    O(n) — convergence within max_iter=25 pins the jumping actually
    works (plain neighbor propagation would need 999 rounds)."""
    from data_engineering_user_session_analysis_spark.operators.dedup import connected_components

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    comp = connected_components(
        pairs, max_iter=25, driver_max_edges=0
    ).collect()
    assert len(comp) == n
    assert {r.component for r in comp} == {0}


def test_range_join_equals_naive_and_is_equi(spark, sf_small):
    """Binned range join == naive cross-join range filter, and the
    plan is an equi-join (no cartesian/nested-loop)."""
    from data_engineering_user_session_analysis_spark.operators.range_join import range_join
    from data_engineering_user_session_analysis_spark.operators.sessionize import sessionize

    ev = load_events(spark, sf_small).select("event_id", "ts", "user_id")
    # intervals: each user's per-session [start, end] windows
    sessions = (
        sessionize(load_events(spark, sf_small), order_cols=("event_id",))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("w_start"), F.max("ts").alias("w_end"))
    )
    binned = range_join(
        ev,
        sessions,
        point_ts="ts",
        start_col="w_start",
        end_col="w_end",
        bin_width_seconds=1800,
        extra_keys=("user_id",),
    )
    naive = (
        ev.alias("p")
        .join(sessions.alias("i"), "user_id")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end")))
    )
    got = {(r.event_id, r.session_id) for r in binned.collect()}
    want = {(r.event_id, r.session_id) for r in naive.collect()}
    assert got == want and got, "binned range join diverged from naive"
    plan = binned._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # semi variant: every event lands in its own session's window
    semi = range_join(
        ev, sessions, "ts", "w_start", "w_end", 1800, ("user_id",), how="left_semi"
    )
    assert semi.count() == ev.count()


def test_range_join_left_equals_naive(spark, sf_small):
    """how='left' == naive left range join (matched rows fan out,
    unmatched points survive with null interval columns) against a
    PARTIAL interval set, so both branches are exercised."""
    from data_engineering_user_session_analysis_spark.operators.range_join import range_join
    from data_engineering_user_session_analysis_spark.operators.sessionize import sessionize

    ev = load_events(spark, sf_small).select("event_id", "ts", "user_id")
    # only purchase sessions: most events fall OUTSIDE every interval
    s = sessionize(load_events(spark, sf_small), order_cols=("event_id",))
    sessions = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("w_start"),
            F.max("ts").alias("w_end"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "has_purchase"
            ),
        )
        .filter(F.col("has_purchase") == 1)
        .drop("has_purchase")
    )
    left = range_join(
        ev,
        sessions,
        point_ts="ts",
        start_col="w_start",
        end_col="w_end",
        bin_width_seconds=1800,
        extra_keys=("user_id",),
        how="left",
        point_key="event_id",
    )
    naive_inner = (
        ev.join(sessions, "user_id")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end")))
        .select("event_id", "session_id")
    )
    naive_matched = {(r.event_id, r.session_id) for r in naive_inner.collect()}
    matched_ids = {e for e, _ in naive_matched}
    naive_left = naive_matched | {
        (r.event_id, None)
        for r in ev.collect()
        if r.event_id not in matched_ids
    }
    got = {(r.event_id, r.session_id) for r in left.collect()}
    assert got == naive_left
    # load-bearing: both matched and unmatched branches non-empty
    assert matched_ids and len(matched_ids) < ev.count()


def test_range_join_left_semi_preserves_duplicate_rows(spark):
    """With point_key, left_semi is a true EXISTS: duplicate point
    rows sharing a key all survive (the no-key fallback collapses
    them — the documented limitation)."""
    import datetime

    from data_engineering_user_session_analysis_spark.operators.range_join import range_join

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    pts = spark.createDataFrame(
        [(1, t0), (1, t0), (2, t0 + datetime.timedelta(hours=6))],
        "pid long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(t0 - datetime.timedelta(minutes=5), t0 + datetime.timedelta(minutes=5))],
        "w_start timestamp, w_end timestamp",
    )
    true_semi = range_join(
        pts, iv, "ts", "w_start", "w_end", 3600, how="left_semi", point_key="pid"
    )
    assert true_semi.count() == 2  # both duplicate pid=1 rows survive
    fallback = range_join(pts, iv, "ts", "w_start", "w_end", 3600, how="left_semi")
    assert fallback.count() == 1  # documented value-collapse fallback


def test_range_join_reserved_bin_column_guarded(spark):
    import datetime

    import pytest as _pytest

    from data_engineering_user_session_analysis_spark.operators.range_join import _BIN, range_join

    t0 = datetime.datetime(2024, 1, 1)
    pts = spark.createDataFrame([(1, t0)], "pid long, ts timestamp").withColumn(
        _BIN, F.lit(0)
    )
    iv = spark.createDataFrame([(t0, t0)], "w_start timestamp, w_end timestamp")
    with _pytest.raises(ValueError, match="reserved column"):
        range_join(pts, iv, "ts", "w_start", "w_end")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.integers(min_value=0, max_value=7200),  # seconds offset
        min_size=1,
        max_size=20,
    ),
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7200),
            st.integers(min_value=0, max_value=3600),  # span
        ),
        min_size=0,
        max_size=10,
    ),
)
def test_range_join_property_vs_naive(spark, pts, ivs):
    """Property pin: for arbitrary point sets and (possibly
    overlapping, zero-width, or empty) interval sets, the binned
    inner and left joins match the naive range joins exactly."""
    import datetime as dt

    from data_engineering_user_session_analysis_spark.operators.range_join import range_join

    base = dt.datetime(2024, 1, 1)
    p = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(pts)],
        "pid long, ts timestamp",
    )
    i_rows = [
        (j, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + span))
        for j, (s, span) in enumerate(ivs)
    ]
    iv = spark.createDataFrame(
        i_rows, "iid long, w_start timestamp, w_end timestamp"
    ) if i_rows else spark.createDataFrame([], "iid long, w_start timestamp, w_end timestamp")
    naive = {
        (i, j)
        for i, s in enumerate(pts)
        for j, (st_, span) in enumerate(ivs)
        if st_ <= s <= st_ + span
    }
    inner = range_join(p, iv, "ts", "w_start", "w_end", bin_width_seconds=600)
    assert {(r.pid, r.iid) for r in inner.collect()} == naive
    left = range_join(
        p, iv, "ts", "w_start", "w_end", 600, how="left", point_key="pid"
    )
    matched = {i for i, _ in naive}
    naive_left = naive | {(i, None) for i in range(len(pts)) if i not in matched}
    assert {(r.pid, r.iid) for r in left.collect()} == naive_left


def test_connected_components_batched_convergence_actions(spark, monkeypatch):
    """Convergence is checked every SECOND round: the count() action
    tally must be about half the rounds a per-round checker would
    spend, while the result stays exact."""
    from data_engineering_user_session_analysis_spark.operators.dedup import connected_components

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    # patch the CONCRETE DataFrame class (pyspark 4 routes instances
    # through pyspark.sql.classic, not the pyspark.sql.DataFrame ABC)
    cls = type(pairs)
    calls = {"n": 0}
    orig = cls.count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "count", counting)
    comp = connected_components(pairs, max_iter=25, driver_max_edges=0).collect()
    assert len(comp) == n and {r.component for r in comp} == {0}
    # a 256-chain needs ~6-8 pointer-jump rounds; per-round checking
    # would spend that many count() actions, every-2 spends <= 5,
    # plus ONE for the strategy decision (driver vs distributed)
    assert 0 < calls["n"] <= 6, calls["n"]


def test_shingle_kernel_equals_hof_construction(spark, sf_small):
    """The Arrow shingle kernel must reproduce the Catalyst HOF
    construction exactly — same tokens (empty strings around repeated
    separators included), same distinct-by-first-occurrence grams —
    on the real corpus plus adversarial whitespace."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.dedup import shingle_docs
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    n = 3
    corpus = load_table(spark, sf_small, "documents").select("doc_id", "text")
    weird = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100001, 100002, 100003, 100004],
                "text": [
                    "a  b c d",          # double space -> empty token
                    " lead and trail ",  # boundary empties
                    "x y",               # shorter than n: no shingles
                    "r r r r r",         # repeated grams collapse
                ],
            }
        )
    )
    docs = corpus.unionByName(weird)
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )
    hof = docs.filter(F.size(toks) >= n).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )
    kernel = shingle_docs(docs, n=n)
    assert kernel.count() == hof.count() > 0
    assert kernel.exceptAll(hof).count() == 0
    assert hof.exceptAll(kernel).count() == 0


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**6), max_value=10**6),
            # fingerprints from a deliberately tiny bit-neighborhood:
            # a few base patterns x low-bit perturbations, so examples
            # are dense in clones (same value), near pairs (hamming
            # 1-2), and just-over-threshold pairs (hamming 3)
            st.tuples(
                st.sampled_from([0, 0xFFFFFFFF, 0x0F0F0F0F, 0x12345678]),
                st.integers(min_value=0, max_value=7),
                st.booleans(),
            ).map(lambda t: (t[0] ^ t[1] ^ (0x80000000 if t[2] else 0))),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda e: e[0],
    )
)
def test_simhash_value_level_pairs_property(spark, rows):
    """The value-level candidate enumeration + expansion must equal
    brute-force all-pairs Hamming on ANY (id, fingerprint) table —
    clone groups, negative ids, and boundary hamming included."""
    from data_engineering_user_session_analysis_spark.operators.dedup import (
        simhash_pairs_from_fingerprints,
    )

    fp = spark.createDataFrame(rows, "doc_id long, fingerprint long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_from_fingerprints(fp, max_hamming=2).collect()
    }
    expected = set()
    for i, (ida, fa) in enumerate(rows):
        for idb, fb in rows[i + 1 :]:
            h = bin(fa ^ fb).count("1")
            if h <= 2:
                expected.add((min(ida, idb), max(ida, idb), h))
    assert got == expected


def test_minhash_dedup_edges_same_clusters_linear_output(spark, sf_small):
    """Star-edge near-dup edges (exact-dup stars + rep-only LSH
    pairs) must produce the IDENTICAL clusters (so the same min-id
    canonical survivors) as the all-pairs form on a clone-heavy
    corpus, with edge count linear in clone mass where all-pairs is
    quadratic."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.operators.dedup import (
        minhash_dedup_edges,
        minhash_lsh_pairs,
    )
    from data_engineering_user_session_analysis_spark.sources.tables import load_table

    shift = 1_000_000
    base = load_table(spark, sf_small, "documents").limit(60)
    docs = base
    for r in (1, 2, 3):  # 4 exact clones of every doc
        docs = docs.unionByName(
            base.withColumn("doc_id", F.col("doc_id") + r * shift)
        )
    docs = docs.cache()
    n_docs = docs.count()

    all_pairs = [
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5)
        .select("doc_a", "doc_b")
        .collect()
    ]
    edge_rows = minhash_dedup_edges(docs, threshold=0.5).collect()
    edges = [(r.doc_a, r.doc_b) for r in edge_rows]

    # identical connectivity -> identical min-id components
    assert _uf_components(edges) == _uf_components(all_pairs)
    # linear output: every clone group contributes g-1 star edges,
    # while the all-pairs form carries >= g(g-1)/2 per group (4 clones
    # -> 6 pairs vs 3 edges), so the edge set must be strictly and
    # substantially smaller.
    assert len(edges) < len(all_pairs)
    star_edges = sum(1 for r in edge_rows if r.edge_type == "exact")
    # exactly g-1 per exact-content group == n_docs - distinct texts
    # (the 60 sampled base docs may THEMSELVES contain exact dups,
    # so n_docs - base.count() would under-count groups)
    n_distinct_texts = docs.select("text").distinct().count()
    assert star_edges == n_docs - n_distinct_texts
    docs.unpersist()


def test_materialize_reliable_checkpoint_hook(spark, tmp_path):
    """runtime.materialize (r16, VERDICT r15 #7): the dedup-family
    lineage cuts default to localCheckpoint (executor-local blocks —
    fine locally, lost on executor failure), but when the session has
    a checkpoint directory configured they must transparently use
    reliable DataFrame.checkpoint instead, writing to that directory.
    Same rows either way."""
    import os

    from data_engineering_user_session_analysis_spark.runtime import materialize

    df = spark.range(100).withColumn("v", F.col("id") % 7)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = materialize(df, eager=True)
    assert local.count() == 100  # default path: localCheckpoint

    ckpt_dir = str(tmp_path / "reliable_ckpt")
    sc.setCheckpointDir(ckpt_dir)
    try:
        reliable = materialize(df, eager=True)
        assert sorted(r["id"] for r in reliable.collect()) == list(range(100))
        # reliable checkpoint materializes files under the configured dir
        found = []
        for root, _dirs, files in os.walk(ckpt_dir):
            found.extend(files)
        assert found, "no checkpoint files written under the checkpoint dir"
    finally:
        # clear the session-scoped dir so later tests see the default
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_cc_regime_switch_at_edge_budget(spark, monkeypatch):
    """connected_components picks its regime from the MEASURED edge
    count against ``driver_max_edges`` (r16 pin, VERDICT r15 #4): at
    or below the budget the driver union-find runs (its collection is
    output-bounded by ``limit(budget + 1)`` — never the corpus), one
    past it the distributed pointer-jumping loop runs.  Both regimes
    must label a chain graph identically."""
    from data_engineering_user_session_analysis_spark.operators import dedup

    # 8 chains of 8 nodes -> 56 edges, components = chain heads
    pairs = (
        spark.range(64)
        .filter(F.col("id") % 8 != 7)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    n_edges = pairs.count()
    calls = {"driver": 0, "dist": 0}
    real_driver, real_rounds = dedup._driver_components, dedup._cc_rounds

    def spy_driver(*a, **k):
        calls["driver"] += 1
        return real_driver(*a, **k)

    def spy_rounds(*a, **k):
        calls["dist"] += 1
        return real_rounds(*a, **k)

    monkeypatch.setattr(dedup, "_driver_components", spy_driver)
    monkeypatch.setattr(dedup, "_cc_rounds", spy_rounds)

    at_budget = dedup.connected_components(pairs, driver_max_edges=n_edges)
    rows_driver = sorted(
        (r["node"], r["component"]) for r in at_budget.collect()
    )
    assert calls == {"driver": 1, "dist": 0}

    past_budget = dedup.connected_components(
        pairs, driver_max_edges=n_edges - 1
    )
    rows_dist = sorted(
        (r["node"], r["component"]) for r in past_budget.collect()
    )
    assert calls == {"driver": 1, "dist": 1}

    expected = sorted((i, i - i % 8) for i in range(64))
    assert rows_driver == expected
    assert rows_dist == expected


def test_cc_convergence_check_is_join_free(spark, monkeypatch):
    """The distributed loop's convergence check must be a filter-count
    over the round's OWN checkpoint (the round-start label rides along
    as ``_prev``), not a join of two O(nodes) label tables (r16,
    guide §2.4): every counted plan that sees ``_prev`` must contain
    no Join operator, and the labels must still be exact."""
    from data_engineering_user_session_analysis_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    cls = type(pairs)
    plans: list = []
    orig = cls.count

    def recording(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return orig(self)

    monkeypatch.setattr(cls, "count", recording)
    comp = dedup.connected_components(pairs, max_iter=25, driver_max_edges=0)
    rows = sorted((r["node"], r["component"]) for r in comp.collect())
    assert rows == [(i, 0) for i in range(64)]
    checks = [p for p in plans if "_prev" in p]
    assert checks, "no convergence-check count observed"
    assert all("Join" not in p for p in checks), checks[0]
