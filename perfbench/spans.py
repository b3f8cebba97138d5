"""Measurement helpers: layer spans from outside the program, peak RSS.

A layer span wraps one public-function call: the call runs under its
own ``setJobGroup``, its output is materialized (persist + count) inside
the span, and ``SparkStatusTracker`` then gives the jobs, completed
tasks and failed tasks of that group.  Spans are kept in memory and
reduced to medians when the run ends.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict


def unpersist_all(spark) -> None:
    """Drop every cached frame AND every persisted RDD: ``localCheckpoint``
    blocks survive ``clearCache``, so without the second step a
    repetition can read blocks an earlier one left behind."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


class Tracer:
    """Per-layer samples of one traced run, keyed ``<layer>.<metric>``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._pending: list[tuple[str, str]] = []
        self._n = 0

    def group(self, name: str) -> None:
        """Put the jobs submitted from now on in a fresh group of layer
        ``name``."""
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        self._pending.append((name, gid))

    def ungroup(self, outer: str | None = None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def layer(self, name: str, call):
        """Run ``call()``, which returns a DataFrame, as layer ``name``:
        the frame is persisted and counted inside the span.  Returns the
        persisted frame."""
        from pyspark import StorageLevel

        self.group(name)
        t0 = time.perf_counter()
        out = call().persist(StorageLevel.MEMORY_AND_DISK)
        rows = out.count()
        self.record(name, "busy_s", time.perf_counter() - t0)
        self.record(name, "rows_out", rows)
        self.ungroup()
        return out

    def wrap(self, name: str, fn):
        """``fn`` timed as layer ``name`` wherever the program calls it,
        with its jobs under ``name``'s group; the caller's group is
        restored afterwards.  Returns the wrapped callable."""
        tracer = self

        def traced(*args, **kwargs):
            outer = tracer.sc.getLocalProperty("spark.jobGroup.id")
            tracer.group(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.record(name, "busy_s", time.perf_counter() - t0)
                tracer.ungroup(outer)

        return traced

    def record(self, name: str, field: str, value: float) -> None:
        self.samples[f"{name}.{field}"].append(float(value))

    def close_pass(self) -> None:
        """Resolve jobs/tasks of every span of the pass just ended."""
        time.sleep(0.2)  # let the listener bus deliver the last task ends
        st = self.sc.statusTracker()
        per_layer: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
        for name, gid in self._pending:
            acc = per_layer[name]
            for jid in st.getJobIdsForGroup(gid):
                acc[0] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    if si:
                        acc[1] += si.numCompletedTasks
                        acc[2] += si.numFailedTasks
        for name, (jobs, tasks, failed) in per_layer.items():
            self.record(name, "jobs", jobs)
            self.record(name, "tasks", tasks)
            self.record(name, "failed_tasks", failed)
        self._pending.clear()

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items()}


def wait_children(timeout: float = 30.0) -> None:
    """Wait until every process this one forked has exited."""
    deadline = time.monotonic() + timeout
    while _children().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _children(names: dict[int, str] | None = None) -> dict[int, list[int]]:
    """ppid → child pids, over all processes; fills ``names`` with each
    pid's command name."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
        if names is not None:
            names[int(d)] = stat[stat.find("(") + 1 : stat.rfind(")")]
    return kids


def tree_rss_bytes(root: int) -> int:
    """RSS of every descendant of ``root`` (the JVM and the python
    workers it forks), not counting ``root`` itself.  Of the JVM's
    children only the python ones count: the others are forks about to
    exec a helper (Hadoop's local file system shells out for
    permissions), which share the JVM's pages and would add the whole
    heap a second time."""
    names: dict[int, str] = {}
    kids = _children(names)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        children = kids.get(pid, [])
        if names.get(pid) == "java":
            children = [c for c in children if names.get(c, "").startswith("python")]
        stack.extend(children)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds on a
    daemon thread; ``peak_mb`` is the largest sample."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
