"""Measurement probes read from outside the program: Spark job-group stats
and the process-tree resident set size."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

PLAN_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "busy_s", "jvm_cpu_s",
               "idle_frac", "input_records", "shuffle_bytes", "spill_bytes",
               "output_bytes", "wall_s", "read_s")


class JobGroups:
    """Attributes Spark work to a call by running it in its own job group.

    Stage metrics come from the application status store, which Spark keeps
    with ``spark.ui.enabled=false`` too.  Call-site attribution would not
    work: adaptive-execution jobs report a ``CompletableFuture`` call site,
    not the caller's file, but they do inherit the job group."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run the body in a fresh job group; the yielded dict receives the
        group's ``PLAN_FIELDS`` when the body ends.  ``read_s`` is the time
        reading them took: all that tracing adds to a call."""
        gid = f"perfbench-{self._n}-{name}"
        self._n += 1
        stats: dict = {}
        self.sc.setJobGroup(gid, name, interruptOnCancel=False)
        t0 = time.perf_counter()
        try:
            yield stats
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        stats.update(self.read(gid, wall))

    def read(self, gid: str, wall: float) -> dict:
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(gid)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(PLAN_FIELDS, 0)
        out["jobs"] = len(job_ids)
        for s in stage_ids:
            sd = store.lastStageAttempt(s)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["busy_s"] += sd.executorRunTime() / 1e3
            out["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
            out["input_records"] += sd.inputRecords()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
            out["output_bytes"] += sd.outputBytes()
        out["wall_s"] = wall
        out["idle_frac"] = 1.0 - out["busy_s"] / (wall * self.cores) if wall > 0 else 0.0
        out["read_s"] = time.perf_counter() - t0
        return out


def process_tree(root: int) -> list[int]:
    """``root`` and the pids of all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident set of this process tree (this process, the JVM, the Python workers),
    sampled by one background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
