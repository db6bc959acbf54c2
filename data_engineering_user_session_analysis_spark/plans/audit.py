"""Physical-plan audit helpers — the scale-shape checks as a library.

A query that returns the right rows can still be a 100 TB incident:
a lost filter pushdown re-reads every column of every file, an extra
exchange doubles shuffle volume, a range predicate that degrades to
BroadcastNestedLoopJoin goes quadratic.  `tests/test_plans.py` pins
these properties per query; this module is the same checks as a
reusable API so jobs and notebooks can assert their own plan shapes
(e.g. in CI against a production-sized catalog, where statistics —
and therefore join strategies — differ from the test fixtures).

All helpers inspect the EXECUTED plan string (post-AQE where
applicable) — the thing Spark actually runs, not the logical intent.

`plan_features` folds the node counts and the job count of one query
into one vector; ``tools/capture_plans.py`` writes it for every
registry row into ``PLANFEATURES.json``, and
`tests/test_plan_features.py` fails when a row exceeds its entry.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: join operators that imply an O(|L|·|R|) comparison loop
_NON_EQUI_JOINS = ("BroadcastNestedLoopJoin", "CartesianProduct")

#: one operator line of a plan string: its tree prefix (none on the
#: root line), an optional codegen marker ``*(n)``, then the name
_NODE = re.compile(r"(?:[ :|]*[+:]- )?(?:\*\(\d+\) )?(\w+)")


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(df: DataFrame) -> list[str]:
    """The operator name of every node in the executed plan string,
    root first, including the plans of cached relations and
    subqueries the string prints (a cached input shared by two
    branches is listed under each)."""
    names = []
    for i, line in enumerate(executed_plan(df).splitlines()):
        m = _NODE.match(line)
        if m and (i == 0 or "- " in line[: m.start(1)]):
            names.append(m.group(1))
    return names


def count_exchanges(df: DataFrame) -> int:
    """Number of exchanges: shuffles of any partitioning and
    broadcasts.  Every one is a full write+read of its input across
    the cluster — the first number to check when a query is slower
    than it should be."""
    return sum(n in ("Exchange", "BroadcastExchange") for n in plan_nodes(df))


def count_windows(df: DataFrame) -> int:
    """Number of Window operators.  Window specs that share partition
    and order keys run in one operator; each extra one is another
    sorted pass over its partition."""
    return plan_nodes(df).count("Window")


def count_joins(df: DataFrame) -> int:
    """Number of join operators, of any strategy."""
    return sum(
        n.endswith("Join") or n in _NON_EQUI_JOINS for n in plan_nodes(df)
    )


def count_scans(df: DataFrame) -> int:
    """Number of leaf scans: files, cached relations, RDDs, local
    tables.  A logical input scanned twice means a DAG branch is being
    recomputed — cache/checkpoint it or restructure to a single pass."""
    return sum(n == "Scan" or n.endswith("Scan") for n in plan_nodes(df))


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if `fragment` appears inside a scan's PushedFilters list
    (e.g. ``"GreaterThan(value,100.0)"``).  A filter that does not
    reach the scan is evaluated after full-row materialization."""
    plan = executed_plan(df)
    return any(
        fragment in seg.split("]", 1)[0]
        for seg in plan.split("PushedFilters: [")[1:]
    )


def is_equi_join_only(df: DataFrame) -> bool:
    """True if no join in the plan degrades to a nested-loop or
    cartesian strategy.  (Intentional tiny-side BNLJ — e.g. a literal
    anchor set — should be asserted directly, not through this.)"""
    plan = executed_plan(df)
    return not any(op in plan for op in _NON_EQUI_JOINS)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen spans (the ``*(n)``
    markers in the plan string).  Wider/fewer spans mean more of the
    plan runs as generated JVM loops; a span break in a hot path
    usually marks a non-codegen expression (higher-order functions,
    python UDFs) worth hoisting out.  Note: under AQE the executed
    plan is not final until the first action — span counts on
    unexecuted AQE plans can be 0."""
    return len(set(re.findall(r"\*\((\d+)\)", executed_plan(df))))


@contextmanager
def jobs_of(spark: SparkSession, group: str) -> Iterator[list[int]]:
    """Run the block under job group ``group``; on exit the yielded
    list holds the ids of the jobs it launched.  Raises when the block
    launched a job without a group, one that would escape the count.
    The status tracker is fed asynchronously, so it is read only once
    the listener bus has drained."""
    sc = spark.sparkContext

    def settled():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sc.statusTracker()

    status = settled()
    ungrouped = set(status.getJobIdsForGroup(None))
    earlier = set(status.getJobIdsForGroup(group))
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    status = settled()
    # a difference, not an inequality: the tracker drops its oldest
    # jobs past ``spark.ui.retainedJobs``, so the set can also shrink
    if set(status.getJobIdsForGroup(None)) - ungrouped:
        raise RuntimeError(f"a job of group {group!r} lost its group")
    jobs.extend(sorted(set(status.getJobIdsForGroup(group)) - earlier))


def plan_features(spark: SparkSession, build: Callable[[], DataFrame]) -> dict[str, int]:
    """The plan-feature vector of one query: the Spark jobs that
    building it and running it to a ``noop`` sink launch, and the
    exchange, window, join and scan nodes of its executed plan, read
    before it runs.  ``build`` returns the query's DataFrame.

    Counts, unlike wall clock, do not drift with the host.  Every
    cached relation is dropped first: a plan-keyed ``.cache()`` left
    by an earlier call would change both the plan and its jobs."""
    spark.catalog.clearCache()
    with jobs_of(spark, "plan_features") as jobs:
        df = build()
        nodes = {
            "exchanges": count_exchanges(df),
            "windows": count_windows(df),
            "joins": count_joins(df),
            "scans": count_scans(df),
        }
        df.write.format("noop").mode("overwrite").save()
    return {"jobs": len(jobs), **nodes}
