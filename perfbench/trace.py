"""In-memory spans with Spark job accounting, and the RSS sampler.

A span is a named interval with a parent. Each span runs its Spark jobs
under its own job group, so the jobs a span started itself (not those
of its children) are read back from the status store when it closes:
job count, stages, tasks, task CPU, GC, shuffle, spill, input and
failed tasks. Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = (
    "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "failed_tasks", "input_bytes", "input_rows",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def job_stats(sc, job_ids: list[int]) -> dict[str, float]:
    """Sum the stage metrics of ``job_ids`` from the status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["failed_tasks"] += sd.numFailedTasks()
        out["input_bytes"] += sd.inputBytes()
        out["input_rows"] += sd.inputRecords()
    return out


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent on job groups and status-store reads

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name, False)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            # job-end events reach the status store asynchronously
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids = list(self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{s.id}"))
            s.jobs = len(ids)
            s.stats = job_stats(self.sc, ids)
            self.bookkeeping_s += time.perf_counter() - s.end

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part covered by direct children (which run
        sequentially on the one driver thread)."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _tree_pids(root: int) -> list[int]:
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
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by N processes counts 1/N in
    each, so the sum over forked workers counts shared pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass  # the process ended between listing and reading
    return 0


class RssSampler:
    """Samples the resident memory of a process and all its descendants
    (the JVM and the Python workers it forks), summed as proportional set
    sizes, and keeps the highest value."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        total = sum(_pss_bytes(p) for p in _tree_pids(self.root_pid))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
