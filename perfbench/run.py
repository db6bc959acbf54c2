"""Benchmark of the paper pipeline.  Run from the root of a checkout:

    python3 perfbench/run.py --workload daily_paper --seed 1 --seconds 28 --trace 0

Workloads (README.md gives the reasons): ``daily_paper`` and
``registry_sweep``.  ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run.  The last stdout line is the JSON result; the lines before it are
the run's stamp and a readable table.  ``--size smoke`` shrinks every
input and ``--corrupt`` damages one output before the checks (both for
``smoke.py``).  ``--record PATH`` also writes the stamped record that
``compare.py`` reads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("daily_paper", "registry_sweep")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ops_ok_ratio": "ratio",
}


def _module(workload: str):
    if workload == "daily_paper":
        import daily as mod
    else:
        import registry as mod
    return mod


def per_layer_names() -> list[str]:
    """Every per-layer metric, in ``BENCHMARK.json`` order."""
    import registry
    import stream
    import spans

    names = [
        f"{layer}.{c}"
        for layer in (
            "batch_job.run_daily_pipeline",
            "batch_job.run_incremental_sessions",
            "incremental_sessions.advance_sessions",
            "batch_job.run_daily_job",
            "compaction.compact_partition",
        )
        for c in spans.COUNTERS
    ]
    names += stream.LAYER_METRICS
    names += registry.LAYER_METRICS
    names += ["trace.op_p50_s", "trace.untraced_op_p50_s", "trace.wrapper_s",
              "trace.overhead_ratio"]
    return names


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("paper", "smoke"), default="paper")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--record")
    args = ap.parse_args(argv)

    # the engine is built from this checkout's sources; without them
    # there is nothing to measure
    sys.path.insert(0, os.getcwd())
    try:
        import data_engineering_user_session_analysis_spark as engine
    except ImportError as exc:
        print(f"engine package not importable from {os.getcwd()}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(os.getcwd() + os.sep):
        print(f"engine package found outside the checkout: {engine.__file__}",
              file=sys.stderr)
        return 2

    import spans

    work = harness.make_workdir(args.workload, args.seed)
    t0 = time.perf_counter()
    try:
        spark = harness.start_spark(work, trace=bool(args.trace))
    except BaseException:
        harness.stop_spark(None, grace_s=5.0)
        raise
    session_s = time.perf_counter() - t0
    tracer = spans.Tracer(spark) if args.trace else None
    mod = _module(args.workload)
    try:
        res = mod.run(spark, work, args.seed, args.seconds, args.size,
                      tracer=tracer, corrupt=args.corrupt)
        rss = harness.peak_rss_mb()
        st = harness.stamp(spark, args.workload, args.seed, int(args.seconds),
                           res["sizes"])
    finally:
        harness.stop_spark(spark)

    ops = res["ops"]
    samples = res["op_samples"]
    if args.trace:
        by_group, jobs = spans.read_event_log(os.path.join(work, "eventlog"))
        layers = mod.layer_metrics(res, tracer, by_group, jobs)
        traced_p50 = statistics.median(samples) if samples else 0.0
        untraced = res.get("untraced_samples") or []
        untraced_p50 = statistics.median(untraced) if untraced else 0.0
        layers["trace.op_p50_s"] = traced_p50
        layers["trace.untraced_op_p50_s"] = untraced_p50
        layers["trace.wrapper_s"] = tracer.wrapper_s
        layers["trace.overhead_ratio"] = (
            traced_p50 / untraced_p50 - 1.0 if untraced_p50 else 0.0
        )
        names = per_layer_names()
        metrics = {n: {"value": float(layers.get(n, 0.0)),
                       "unit": layer_unit(n)} for n in names}
    else:
        values = {
            # the engine's session start plus the median input set-up:
            # work moved into either shows here
            "setup_s": session_s + res["setup_s"],
            "op_p50_s": res["op_p50_s"],
            "work_per_s": res["work_per_s"],
            "peak_rss_mb": rss,
            "ops_ok_ratio": ops.ok_ratio(),
        }
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in values.items()}
        res["notes"].update({"session_start_s": session_s,
                             "input_setup_s": res["setup_s"]})

    record = {
        "stamp": st,
        "notes": res["notes"],
        "problems": ops.problems,
        "metrics": metrics,
    }
    print("stamp: " + json.dumps(st, sort_keys=True))
    print("notes: " + json.dumps(res["notes"], sort_keys=True))
    for p in ops.problems:
        print("FAILED: " + p)
    for name, m in metrics.items():
        print(f"  {name:<58} {m['value']:>16.6g} {m['unit']}")
    if args.record:
        with open(args.record, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": max(ops.attempted, 1),
        "failed": max(ops.failed, 0 if ops.attempted else 1),
        "metrics": metrics,
    }))
    return 0


def layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_ms"):
        return "ms"
    if counter.endswith("_bytes"):
        return "bytes"
    if counter in ("task_skew", "overhead_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
