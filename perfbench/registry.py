"""``registry_sweep``: registered queries of the engine's 50-query
registry on testdata generated from the seed by
``tools/gen_testdata.py``, plus one ingest drain (``stream.py``).

Every pass runs the six queries and the drain once each.  After one
warm-up query outside the registry, an untimed warm-up pass compiles
every plan; timed passes follow while another fits in the run's
seconds (at least two), and each op reports its median over them.  A
traced run makes four passes after the warm-up pass, in the order
unspanned, spanned, spanned, unspanned.

Each query is timed in two parts: ``construct`` (calling the registry
function: driver-side plan building, plus any eager job the query
runs while building) and ``execute`` (collecting the result); the
drain's parts are starting the stream and waiting for it to stop.  The
collected rows are checked against the query's DuckDB oracle, which
runs before any Spark query is timed, with the repo's own oracle gate
(``tests/oracle_harness.py``); each drain's lake against the backlog's
ledger.

A full pass over all 50 queries takes over a minute cold on four
cores, more than a run of this benchmark can spend, so the sweep runs
one query from each of six registry modules (``QUERIES``): the ones
that reach what the daily workload does not, namely sessionize
read-only over 30 days, the streaming state store, and the dedup,
similarity, text and TPC-H operators.  The enrichment, relational,
function, extended-text, multimodal and sampling modules are left out
to keep a run short (README.md).
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import harness
import stream

# registry module -> the query timed for it
QUERIES = {
    "session_queries": "session_rollup",
    "tpch_queries": "q5_local_supplier_volume",
    "streaming_queries": "streaming_session_rollup",
    "text_queries": "doc_token_stats",
    "dedup_queries": "dedup_minhash_lsh",
    "similarity_queries": "embedding_neardup",
}
SIZES = {"paper": {"sf": 0.01}, "smoke": {"sf": 0.001}}
# untraced (False) and spanned (True) passes of a traced run
TRACE_ORDER = (False, True, True, False)
_COUNTERS = ("construct_s", "execute_s", "jobs", "exec_cpu_s", "shuffle_write_bytes")
LAYER_METRICS = [f"queries.{m}.{c}" for m in QUERIES for c in _COUNTERS] + [
    "queries.task_skew",
]


def _checkout_module(relpath: str):
    """A module of the checkout under test, loaded from its file."""
    path = os.path.join(os.getcwd(), relpath)
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(spark, work: str, seed: int, seconds: float, size_name: str,
        tracer=None, corrupt: bool = False) -> dict:
    from data_engineering_user_session_analysis_spark.queries import ORACLE
    from data_engineering_user_session_analysis_spark.queries import QUERIES as REG

    size = SIZES[size_name]
    sf_dir = os.path.join(work, "testdata")
    landing = os.path.join(work, "landing")
    gen = _checkout_module(os.path.join("tools", "gen_testdata.py")).gen
    oracle = _checkout_module(os.path.join("tests", "oracle_harness.py"))
    rows: dict = {}
    ledger: dict[str, int] = {}

    def setup():
        nonlocal rows, ledger
        for path in (sf_dir, landing):
            shutil.rmtree(path, ignore_errors=True)
        rows = gen(size["sf"], sf_dir, seed=seed)
        ledger = stream.write_backlog(landing, os.path.join(work, "staging"), seed,
                                      **stream.SIZES[size_name])

    setup_s = harness.median_of(setup)
    names = list(QUERIES.values())
    con = oracle.duckdb_conn(sf_dir)
    want = {n: con.execute(ORACLE[n]).fetchdf() for n in names}
    con.close()
    ops = harness.Ops()
    n_drains = 0

    def one(module: str, name: str, traced: bool):
        """``(construct_s, execute_s, output)`` of one op: a query's
        collected frame, or a drain's record."""
        nonlocal n_drains
        if module == stream.LAYER:
            lake = os.path.join(work, f"lake{n_drains}")
            ckpt = os.path.join(work, f"ckpt{n_drains}")
            n_drains += 1
            t0 = time.perf_counter()
            query = stream.start_drain(spark, landing, lake, ckpt)
            t1 = time.perf_counter()
            drained = stream.finish_drain(query, lake)
            drained.update(lake=lake, ckpt=ckpt)
            return t1 - t0, time.perf_counter() - t1, drained
        layer = f"queries.{module}"
        t0 = time.perf_counter()
        with tracer.span(f"{layer}.construct") if traced else nullcontext():
            df = REG[name](spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span(f"{layer}.execute") if traced else nullcontext():
            pdf = df.toPandas()
        return t1 - t0, time.perf_counter() - t1, pdf

    # warm-up outside the registry (JVM, parquet reader, codegen), so
    # the warm-up pass does not pay for the whole session's start
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).groupBy(
        "event_type").count().collect()
    live = {**QUERIES, stream.LAYER: "ingest_drain"}
    times: dict[str, list[tuple[float, float]]] = {m: [] for m in live}
    drains: list[dict] = []

    def sweep(traced: bool, record: bool) -> float:
        """One pass over the live ops, outputs checked; a ``record``
        pass keeps each op's times and each drain's record."""
        total = 0.0
        for module, name in list(live.items()):
            ops.attempted += 1
            try:
                c, e, out = one(module, name, traced)
            except Exception as exc:  # an op that raises is one failed op
                ops.fail(f"{name} raised {type(exc).__name__}: {exc}"[:300])
                del live[module]
                continue
            total += c + e
            if record:
                times[module].append((c, e))
            if module == stream.LAYER:
                problem = stream.lake_check(out["lake"], ledger)
                for path in (out["lake"], out["ckpt"]):
                    shutil.rmtree(path, ignore_errors=True)
                if record:
                    drains.append(out)
            else:
                if corrupt and module == "session_queries":
                    out = out.iloc[1:]
                problem = "; ".join(oracle.compare_pandas(name, out, want[name]))
            if problem:
                ops.fail(f"{name}: {problem}"[:300])
        return total

    # a first, untimed pass compiles every plan and warms the stream
    # source and sink
    sweep(False, record=False)
    sweeps: list[float] = []
    untraced: list[float] = []
    if tracer is None:
        # timed passes while another one fits before the deadline, at
        # least two; each op's time is its median over them
        deadline = time.perf_counter() + seconds
        pass_s = 0.0
        while live and (len(sweeps) < 2 or time.perf_counter() + pass_s < deadline):
            t_pass = time.perf_counter()
            sweeps.append(sweep(False, record=True))
            pass_s = time.perf_counter() - t_pass
    else:
        # untraced and spanned passes in the order U T T U, so both sit
        # at the same mean point of the warm-up curve; the two medians
        # give the tracing overhead
        for traced in TRACE_ORDER:
            if live:
                (sweeps if traced else untraced).append(sweep(traced, record=traced))
    construct = {m: statistics.median(c for c, _ in t) for m, t in times.items() if t}
    execute = {m: statistics.median(e for _, e in t) for m, t in times.items() if t}
    walls = [construct[m] + execute[m] for m in construct]
    total = sum(walls)
    geomean = statistics.geometric_mean(walls) if walls else 0.0
    return {
        "ops": ops,
        "setup_s": setup_s,
        # a pass assembled from each op's median time
        "op_p50_s": total,
        "op_samples": sweeps,
        "untraced_samples": untraced,
        # ops per second at the geometric mean op time: every op weighs
        # the same, however long it runs
        "work_per_s": 1.0 / geomean if geomean else 0.0,
        "construct": construct,
        "execute": execute,
        "drains": drains,
        "sizes": {**size, **stream.SIZES[size_name], "rows": rows, "queries": names},
        "notes": {
            "passes": len(sweeps),
            "registry_total_s": total,
            "registry_geomean_s": geomean,
            "per_op_s": {live.get(m, m): round(construct[m] + execute[m], 4)
                         for m in construct},
            "ingest_events_per_s": (
                sum(ledger.values()) / (construct[stream.LAYER] + execute[stream.LAYER])
                if stream.LAYER in construct else 0.0
            ),
        },
    }


def layer_metrics(res: dict, tracer, by_group: dict, jobs: list) -> dict[str, float]:
    """Per module: ``construct_s`` and ``execute_s`` (medians over the
    timed passes) and the event-log counters of both phases, per pass;
    ``task_skew`` is the median over all spans.  The drains give the
    ``ingest_stream`` layer."""
    out: dict[str, float] = {}
    for m in QUERIES:
        out[f"queries.{m}.construct_s"] = res["construct"].get(m, 0.0)
        out[f"queries.{m}.execute_s"] = res["execute"].get(m, 0.0)
    passes = max(res["notes"]["passes"], 1)
    skews = []
    for s in tracer.spans:
        c = by_group.get(s.group, {})
        module = s.layer.split(".")[1]
        for k in ("jobs", "exec_cpu_s", "shuffle_write_bytes"):
            key = f"queries.{module}.{k}"
            out[key] = out.get(key, 0) + c.get(k, 0) / passes
        if c.get("task_skew"):
            skews.append(c["task_skew"])
    out["queries.task_skew"] = statistics.median(skews) if skews else 0.0
    out.update(stream.layer_metrics(res["drains"], by_group))
    out[f"{stream.LAYER}.drain_s"] = (
        res["construct"].get(stream.LAYER, 0.0) + res["execute"].get(stream.LAYER, 0.0)
    )
    return out
