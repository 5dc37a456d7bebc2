"""Measurement from outside the program: /proc accounting of the Spark
JVM and its Python workers, spans around calls into each layer, Spark's
status tracker per job group, and the event-log fold."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        # fields after the parenthesised command name (which may hold spaces)
        return f.read().rsplit(")", 1)[1].split()


class ProcTree:
    """The Spark JVM plus every live descendant (PySpark daemon and
    workers).  CPU counts reaped children through cutime/cstime."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        children = defaultdict(list)
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    children[int(_stat_fields(int(entry))[1])].append(
                        int(entry))
                except (OSError, IndexError):
                    continue
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_seconds(self) -> float:
        total = 0
        for pid in self.pids():
            try:
                f = _stat_fields(pid)
            except OSError:
                continue
            # utime, stime, cutime, cstime
            total += sum(int(v) for v in f[11:15])
        return total / _TICK

    def rss_bytes(self) -> tuple[int, dict[int, int]]:
        """Resident bytes of the JVM, and of each Python process below it.

        Other descendants are left out: a child the JVM forks to run a
        command shows the JVM's whole resident memory until it execs."""
        jvm, python = 0, {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read()
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * _PAGE
            except (OSError, IndexError):
                continue
            if pid == self.root:
                jvm = rss
            elif comm.startswith("python"):
                python[pid] = rss
        return jvm, python


class PeakMemory:
    """Samples every *interval* seconds while active, and keeps the
    peak of each: the JVM's resident memory; the Python workers' (the
    JVM's Python descendants) summed resident memory and their number;
    and, given *heap_used* (a callable), the JVM's used heap."""

    def __init__(self, tree: ProcTree, heap_used=None, interval: float = 0.1):
        self.tree, self.heap_used, self.interval = tree, heap_used, interval
        self.jvm_rss = self.worker_rss = self.workers = self.jvm_heap = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            jvm, workers = self.tree.rss_bytes()
            self.jvm_rss = max(self.jvm_rss, jvm)
            self.worker_rss = max(self.worker_rss, sum(workers.values()))
            self.workers = max(self.workers, len(workers))
            if self.heap_used:
                self.jvm_heap = max(self.jvm_heap, self.heap_used())
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


class Tracer:
    """Spans (name, start, end, parent) kept in memory; a span opened
    with *group* tags the Spark jobs it launches with that job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "group": group,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(sid)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def span_cost(self, group: bool, reps: int = 200) -> float:
        """Median seconds an empty span costs: the bookkeeping and, with
        *group*, the two job-group calls into the JVM.  The probe spans
        are not kept."""
        costs = []
        for _ in range(reps):
            t = time.perf_counter()
            with self.span("trace.probe", "trace.probe" if group else None):
                pass
            costs.append(time.perf_counter() - t)
            self.spans.pop()
        return statistics.median(costs)

    def overhead_seconds(self) -> float:
        """What the run's spans cost: each span at the median cost of an
        empty span of its kind (with or without a job group)."""
        with_group = sum(1 for s in self.spans if s["group"])
        cost = {g: self.span_cost(g) for g in (True, False)}
        return (with_group * cost[True]
                + (len(self.spans) - with_group) * cost[False])

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def groups(self, prefix: str) -> list[str]:
        return [s["group"] for s in self.spans
                if s["group"] and s["name"].startswith(prefix)]

    def job_stats(self, groups) -> dict:
        """Jobs, completed tasks and failed tasks of the job groups, from
        Spark's status tracker."""
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else ()):
                    stage = tracker.getStageInfo(stage_id)
                    if stage:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


def shuffle_write_bytes(event_log_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, folded from the event log of
    a stopped session."""
    stage_group, by_stage = {}, defaultdict(int)
    # a single file, or a rolling-log directory of events_* files
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**"),
                                 recursive=True)):
        if not os.path.isfile(path) or os.path.basename(
                path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    metrics = ev.get("Task Metrics") or {}
                    by_stage[ev["Stage ID"]] += (
                        metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    out = defaultdict(int)
    for sid, n in by_stage.items():
        out[stage_group.get(sid)] += n
    return dict(out)
