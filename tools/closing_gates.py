#!/usr/bin/env python
"""One re-runnable closing battery (VERDICT r12 #5): every end-of-round
gate — full pytest, bench, the sf0.1 + sf1 oracle sweeps BACK-TO-BACK,
and the round's stress tiers — behind a single entry point, so a
driver session restart re-runs one command instead of re-assembling
five by hand, and the artifacts come out mutually consistent:

* The two sweeps run consecutively in one invocation on one box
  state, and the sf1 sweep's ``scaling_vs_compare`` normalizes
  against the sf0.1 artifact produced MINUTES earlier in the same
  battery (``SWEEP_COMPARE_TO``) — closing VERDICT r12's "What's
  wrong #1": r12's pair ran under opposite-direction box drift and
  its probe-normalized column had to be disclaimed per-run.
* One interleaved probe stream: a fixed-size CPU probe brackets every
  stage, recorded in the summary, so cross-stage timing comparisons
  within the battery are attributable without importing probes across
  files.
* The summary (``CLOSING_r{N}.json``) records per-stage wall seconds,
  exit codes, artifact paths, and the headline pass/fail counts
  parsed from each artifact.

Usage:
  python tools/closing_gates.py <round> [--skip pytest,bench,sweeps,stress]
                                        [--stress-tiers t1,t2,...]

Artifacts written (repo root): BENCH_local.json, SWEEP_sf0.1_r{N}.json,
SWEEP_sf1_r{N}.json, STRESS_sf1_r{N}.json (JSONL, appended per tier),
CLOSING_r{N}.json.  Stages run as subprocesses (fresh JVMs — the same
isolation stress_bench documents for its tiers).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".testdata", "sf1")
DEFAULT_STRESS_TIERS = ["corpusprep1m", "spanrecall1m"]


def _cpu_probe() -> float:
    import numpy as np

    a = np.random.RandomState(0).randn(1500, 1500)
    t0 = time.perf_counter()
    for _ in range(6):
        a @ a
    return round(time.perf_counter() - t0, 3)


def _run(cmd: list[str], env_extra: dict | None = None, log_name: str = "") -> dict:
    """Run one stage subprocess; stream-capture to a log file so a
    long pytest's output neither floods the terminal nor vanishes."""
    env = {**os.environ, **(env_extra or {})}
    log = os.path.join(REPO, f".closing_{log_name or os.path.basename(cmd[-1])}.log")
    t0 = time.perf_counter()
    with open(log, "w") as f:
        proc = subprocess.run(cmd, cwd=REPO, env=env, stdout=f, stderr=subprocess.STDOUT)
    sec = round(time.perf_counter() - t0, 1)
    tail = ""
    try:
        with open(log) as f:
            tail = f.read()[-2000:]
    except OSError:
        pass
    return {"cmd": " ".join(cmd), "rc": proc.returncode, "sec": sec, "log": log, "tail": tail}


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "XX"
    skip = set()
    if "--skip" in sys.argv:
        skip = set(sys.argv[sys.argv.index("--skip") + 1].split(","))
    stress_tiers = DEFAULT_STRESS_TIERS
    if "--stress-tiers" in sys.argv:
        stress_tiers = [
            t
            for t in sys.argv[sys.argv.index("--stress-tiers") + 1].split(",")
            if t
        ]

    _cpu_probe()  # warmup, discarded
    summary: dict = {
        "round": rnd,
        "stages": {},
        "probe_stream": [{"at": "start", "sec": _cpu_probe()}],
    }

    def mark(at: str) -> None:
        summary["probe_stream"].append({"at": at, "sec": _cpu_probe()})

    py = sys.executable

    if "pytest" not in skip:
        r = _run([py, "-m", "pytest", "tests/", "-q"], log_name="pytest")
        last = [
            ln
            for ln in r.pop("tail").splitlines()
            if "passed" in ln or "failed" in ln or "error" in ln.lower()
        ]
        r["result_line"] = last[-1].strip() if last else "UNPARSED"
        summary["stages"]["pytest"] = r
        mark("after_pytest")

    if "bench" not in skip:
        # context stamp (VERDICT r13 #3): the battery's bench is the
        # round's CANONICAL record — a later driver/manual run writes
        # context="standalone", so two artifacts reconcile themselves
        r = _run(
            [py, "bench.py"],
            env_extra={"SPARK_GRAFT_BENCH_CONTEXT": "closing_battery"},
            log_name="bench",
        )
        r.pop("tail")
        try:
            with open(os.path.join(REPO, "BENCH_local.json")) as f:
                b = json.load(f)
            r["headline_total"] = b.get("value")
            r["full_registry_total"] = b.get("full_registry_total")
            r["shared_r02_subtotal"] = b.get("shared_r02_subtotal")
            r["flagged"] = b.get("flagged_normalized_gt_1_25")
            r["auto_adjudicated"] = b.get("auto_adjudicated_nominal_improved")
            r["incremental_replay_split"] = b.get("incremental_replay_split")
            r["artifact"] = "BENCH_local.json"
        except (OSError, ValueError) as exc:
            r["artifact_error"] = repr(exc)[:200]
        summary["stages"]["bench"] = r
        mark("after_bench")

    if "sweeps" not in skip:
        s01 = f"SWEEP_sf0.1_r{rnd}.json"
        s1 = f"SWEEP_sf1_r{rnd}.json"
        r = _run([py, "sweep_oracle.py", SF01, s01], log_name="sweep01")
        r.pop("tail")
        r["artifact"] = s01
        summary["stages"]["sweep_sf0.1"] = r
        mark("between_sweeps")
        # back-to-back on the same box state; normalize vs the sweep
        # that just finished
        r = _run(
            [py, "sweep_oracle.py", SF1, s1],
            env_extra={"SWEEP_COMPARE_TO": os.path.join(REPO, s01)},
            log_name="sweep1",
        )
        r.pop("tail")
        r["artifact"] = s1
        summary["stages"]["sweep_sf1"] = r
        mark("after_sweeps")
        for key, art in (("sweep_sf0.1", s01), ("sweep_sf1", s1)):
            try:
                with open(os.path.join(REPO, art)) as f:
                    sw = json.load(f)
                summary["stages"][key].update(
                    {
                        "n_pass": sw.get("n_pass"),
                        "n_mismatch": sw.get("n_mismatch"),
                        "n_rows_only": sw.get("n_rows_only"),
                        "n_oracle_skipped": sw.get("n_oracle_skipped"),
                        "n_spark_error": sw.get("n_spark_error"),
                    }
                )
                if sw.get("scaling_vs_compare"):
                    # nominal warm-min ratio (normalized column retired r14)
                    summary["stages"][key]["max_nominal_scaling"] = max(
                        (v["spark_sec_ratio"], k)
                        for k, v in sw["scaling_vs_compare"].items()
                    )
            except (OSError, ValueError) as exc:
                summary["stages"][key]["artifact_error"] = repr(exc)[:200]

    if "stress" not in skip and stress_tiers:
        stress_art = os.path.join(REPO, f"STRESS_sf1_r{rnd}.json")
        tier_rows = []
        for tier in stress_tiers:
            r = _run(
                [py, "stress_bench.py", "--tier", tier], log_name=f"stress_{tier}"
            )
            tail = r.pop("tail")
            docs = []
            try:
                with open(r["log"]) as f:
                    for line in f:
                        line = line.strip()
                        if line.startswith("{"):
                            try:
                                docs.append(json.loads(line))
                            except json.JSONDecodeError:
                                pass
            except OSError:
                pass
            if r["rc"] != 0 and not docs:
                r["tail"] = tail[-800:]
            with open(stress_art, "a") as f:
                for d in docs:
                    f.write(json.dumps(d) + "\n")
            r["n_docs_emitted"] = len(docs)
            summary["stages"][f"stress_{tier}"] = r
            tier_rows.extend(docs)
            mark(f"after_stress_{tier}")
        summary["stress_artifact"] = os.path.basename(stress_art)

    summary["probe_stream"].append({"at": "end", "sec": _cpu_probe()})
    summary["total_sec"] = round(
        sum(s.get("sec", 0.0) for s in summary["stages"].values()), 1
    )
    summary["skipped_stages"] = sorted(skip)
    # a partial re-run (any --skip) must not clobber the round's full
    # battery record — it gets its own summary file
    suffix = "_partial" if skip else ""
    out = os.path.join(REPO, f"CLOSING_r{rnd}{suffix}.json")
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    compact = {
        "round": rnd,
        "total_sec": summary["total_sec"],
        "stages": {
            k: {
                kk: vv
                for kk, vv in v.items()
                if kk in ("rc", "sec", "result_line", "n_pass", "n_mismatch",
                          "headline_total", "full_registry_total",
                          "max_normalized_scaling", "n_docs_emitted")
            }
            for k, v in summary["stages"].items()
        },
        "artifact": os.path.basename(out),
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
