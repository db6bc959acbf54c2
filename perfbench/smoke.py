"""Smoke run of every workload at tiny size, from the checkout root:

    python3 perfbench/smoke.py

For each workload it checks that an untraced run prints every
end-to-end metric of ``BENCHMARK.json`` with its unit and passes its
output checks, that a traced run prints every per-layer metric, and
that a run whose output was damaged (``--corrupt``) reports
``correct: false``.  Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--size", "smoke", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in spec:
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
            raise SystemExit(f"{what}: metric {m['name']} [{m['unit']}] missing")
        if not isinstance(got[m["name"]]["value"], (int, float)):
            raise SystemExit(f"{what}: metric {m['name']} is not a number")


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        plain = run(w, "--trace", "0")
        expect_metrics(plain, bench["end_to_end"], f"{w} --trace 0")
        if not plain["correct"] or plain["failed"]:
            raise SystemExit(f"{w}: checks failed on an undamaged run: {plain}")
        traced = run(w, "--trace", "1")
        expect_metrics(traced, bench["per_layer"], f"{w} --trace 1")
        if not traced["correct"]:
            raise SystemExit(f"{w}: checks failed on the traced run")
        damaged = run(w, "--trace", "0", "--corrupt")
        if damaged["correct"] or not damaged["failed"]:
            raise SystemExit(f"{w}: a damaged output passed the checks")
        print(f"{w}: ok ({plain['attempted']} ops; damaged output caught)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
