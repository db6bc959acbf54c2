"""Shared pieces of the benchmark: the Spark session, the run stamp,
summary statistics, process-tree memory, and the result line.

Everything a run writes goes under its work directory inside the
current checkout (``.perfbench_work/``): the lake, checkpoints, Spark's
local and temp directories, and the event log of a traced run.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import statistics
import tempfile
import time

WORK_ROOT = ".perfbench_work"
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(workload: str, seed: int) -> str:
    path = os.path.abspath(
        os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    # Python-side temp files (py4j handshake, the worker zip) stay in
    # the checkout too
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    tempfile.tempdir = None  # drop the directory an earlier import cached
    return path


def start_spark(work: str, trace: bool):
    """The engine's own session factory on ``local[nproc]``.  Only
    placement settings are overridden: driver heap sized for a shared
    box, every scratch directory inside the work directory, and, for a
    traced run, an uncompressed event log."""
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_LOCAL_DIRS"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # orphans of the processes started below (the launcher script's
    # shell, the JVM's Python workers) are re-parented to this process,
    # so stop_spark can wait for them
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    from data_engineering_user_session_analysis_spark import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:-UsePerfData"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                # Spark 4 compresses event logs with zstd by default
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, grace_s: float = 30.0) -> None:
    """Stop the session (``None`` if it never started), then the JVM
    pyspark launched, and wait until every process under this one has
    ended: the JVM, its Python worker daemon and workers, and the
    launcher's shell, which ``start_spark`` made orphans return here.
    Whatever outlives ``grace_s`` is killed.  ``spark.stop()`` alone
    leaves the JVM to notice its closed pipe and exit after this
    process does."""
    import signal

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            # the JVM exits when its stdin reaches EOF
            try:
                proc.stdin.close()
            except OSError:
                pass
        for _ in range(2):  # wait; kill what outlives the grace; wait
            deadline = time.monotonic() + grace_s
            while True:
                _reap()
                left = [p for p in _descendants(os.getpid()) if _alive(p)]
                if not left or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            if not left:
                break
        if proc is not None:
            proc.wait()
        _reap()


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stamp(spark, workload: str, seed: int, seconds: int, sizes: dict) -> dict:
    """What a record was measured on.  Two records compare only when
    their stamps are equal (``compare.py``)."""
    sc = spark.sparkContext
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "nproc": nproc(),
        "master": sc.master,
        "spark_version": spark.version,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "sizes": sizes,
    }


def median_of(fn, reps: int = 3) -> float:
    """Median wall time of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    live descendant: the Python driver, the JVM and the Python
    workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Ops:
    """Attempt/failure ledger: a day, a micro-batch or a query is one
    operation; one that raises or produces a wrong output is a
    failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, what: str) -> None:
        """Record a failure; a wrong output found after the run marks
        an operation that was already counted as attempted."""
        self.failed = min(self.failed + 1, max(self.attempted, 1))
        self.problems.append(what)

    def ok_ratio(self) -> float:
        return (self.attempted - self.failed) / max(self.attempted, 1)
