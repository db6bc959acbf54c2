"""Traced run: spans from the benchmark's own wrappers, stage counters
from Spark's event log.

The engine has no spans of its own, so the benchmark makes them: it
replaces a layer's public function (a module attribute) with a wrapper
that opens a span and sets a Spark job group unique to that span.
Jobs launched while a span is innermost carry its group, so the event
log's per-task metrics join to exactly one span.  Streaming
micro-batches need no wrapper: Spark runs each one under the query's
run id as job group.

A span's counters are its OWN jobs' (children's jobs go to the
children); ``wall_s`` is inclusive and ``self_s`` is wall time minus
the part covered by child spans, so the ``self_s`` of a span tree sum
to the root's ``wall_s`` by construction.  What can fail is the join:
``unattributed_jobs`` counts the jobs submitted while a root span was
open that carry no group of its tree.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict

COUNTERS = (
    "wall_s",
    "self_s",
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "task_skew",
)


class Span:
    __slots__ = ("layer", "group", "parent", "start", "end", "child_s")

    def __init__(self, layer: str, group: str, parent: "Span | None"):
        self.layer = layer
        self.group = group
        self.parent = parent
        self.start = self.end = 0.0
        self.child_s = 0.0

    # start and end are epoch seconds, so spans line up with the job
    # submission times of the event log

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    """Spans kept in memory; ``wrapper_s`` is the time spent in the
    tracer's own bookkeeping (job-group calls included), the direct
    cost tracing adds to the measured wall time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.wrapper_s = 0.0
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.layer)

    @contextlib.contextmanager
    def span(self, layer: str):
        t0 = time.time()
        parent = self.stack[-1] if self.stack else None
        s = Span(layer, f"perfbench-{len(self.spans)}", parent)
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        s.start = time.time()
        self.wrapper_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            if parent is not None:
                parent.child_s += s.wall_s
            self._set_group(parent)
            self.wrapper_s += time.time() - s.end

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a spanned twin until ``unwrap``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    shuffle_r = m.get("Shuffle Read Metrics") or {}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_read": shuffle_r.get("Remote Bytes Read", 0)
        + shuffle_r.get("Local Bytes Read", 0),
        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spill": m.get("Disk Bytes Spilled", 0),
    }


def read_event_log(eventlog_dir: str) -> tuple[dict[str, dict], list[tuple]]:
    """Per job group: counters summed over the group's jobs; and every
    job as ``(submission epoch ms, group or None)``.  Reads every
    (uncompressed) log file under the directory, rolling (v2) or
    single-file, finished or in progress."""
    jobs: list[tuple] = []
    stage_group: dict[int, str] = {}
    group_jobs: dict[str, int] = defaultdict(int)
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    paths = [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(eventlog_dir)
        for name in files
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    jobs.append((ev.get("Submission Time", 0), group))
                    if group is None:
                        continue
                    group_jobs[group] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    stage_tasks[ev["Stage ID"]].append(_task_row(ev))
    out: dict[str, dict] = {}
    for group, n in group_jobs.items():
        out[group] = dict.fromkeys(COUNTERS[2:], 0)
        out[group]["jobs"] = n
    worst: dict[str, float] = {}
    for sid, tasks in stage_tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        c = out[group]
        c["stages"] += 1
        c["tasks"] += len(tasks)
        run_ms = [t["run_ms"] for t in tasks]
        c["exec_run_s"] += sum(run_ms) / 1e3
        c["exec_cpu_s"] += sum(t["cpu_ns"] for t in tasks) / 1e9
        c["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1e3
        for key, field in (
            ("input_bytes", "input"),
            ("shuffle_read_bytes", "shuffle_read"),
            ("shuffle_write_bytes", "shuffle_write"),
            ("spill_bytes", "spill"),
            ("output_bytes", "output"),
        ):
            c[key] += sum(t[field] for t in tasks)
        # the span's worst stage is the one holding the most executor
        # time; its skew is max over median task run time
        if sum(run_ms) > worst.get(group, -1.0):
            worst[group] = sum(run_ms)
            c["task_skew"] = max(run_ms) / max(statistics.median(run_ms), 1.0)
    return out, jobs


def layer_metrics(tracer: Tracer, by_group: dict[str, dict]) -> dict[str, float]:
    """``<layer>.<counter>`` per call of the layer: counters averaged
    over the layer's spans."""
    per_layer: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        row = dict(by_group.get(s.group) or dict.fromkeys(COUNTERS[2:], 0))
        row["wall_s"] = s.wall_s
        row["self_s"] = s.self_s
        per_layer[s.layer].append(row)
    out: dict[str, float] = {}
    for layer, rows in per_layer.items():
        for counter in COUNTERS:
            out[f"{layer}.{counter}"] = sum(r[counter] for r in rows) / len(rows)
    return out


def unattributed_jobs(tracer: Tracer, root_layer: str,
                      jobs: list[tuple]) -> tuple[int, int]:
    """``(jobs, unattributed)`` over the open time of every
    ``root_layer`` span: jobs submitted then, and those among them whose
    group is not one of that span tree's.  A millisecond at each end of
    a span is left out, because submission times are whole
    milliseconds."""
    trees: dict[int, set[str]] = defaultdict(set)
    roots = {}
    for s in tracer.spans:
        top = s
        while top.parent is not None:
            top = top.parent
        if top.layer == root_layer:
            trees[id(top)].add(s.group)
            roots[id(top)] = top
    seen = missed = 0
    for key, root in roots.items():
        lo, hi = root.start * 1e3 + 1, root.end * 1e3 - 1
        for submitted, group in jobs:
            if lo < submitted < hi:
                seen += 1
                missed += group not in trees[key]
    return seen, missed


def self_sum_error_s(tracer: Tracer, root_layer: str) -> float:
    """Largest gap, over root spans, between the root's wall time and
    the summed ``self_s`` of its span tree: 0 up to float rounding,
    since ``self_s`` is defined so.  Reported, not checked."""
    tree: dict[int, float] = defaultdict(float)
    roots = {}
    for s in tracer.spans:
        top = s
        while top.parent is not None:
            top = top.parent
        if top.layer == root_layer:
            tree[id(top)] += s.self_s
            roots[id(top)] = top
    return max(
        (abs(tree[k] - r.wall_s) for k, r in roots.items()), default=0.0
    )
