"""Spans around calls into the program, Spark's own accounting, and a
process-tree memory sampler.

Spans always record their wall interval (two ``perf_counter`` reads), so
the untraced run times operations with the same code it reports from.
Only a traced ``Tracer`` touches Spark: it tags each span's jobs with a
job group, drains the listener bus when the span closes, and reads the
job ids (``statusTracker``) and the task counters of the stages those
jobs ran (the status store). Spans stay in
memory; the caller turns them into metrics when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-stage counters summed over the stages a traced span's jobs ran
_STAGE_FIELDS = (
    ("task_ms", "executorRunTime"),
    ("gc_ms", "jvmGcTime"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
    ("tasks", "numCompleteTasks"),
    ("failed_tasks", "numFailedTasks"),
)


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    # Spark accounting, inclusive of child spans; traced runs only
    spark: dict = field(default_factory=dict)

    @property
    def jobs(self) -> int:
        return self.spark.get("jobs", 0)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        # time spent in the tracer's own Spark bookkeeping
        self.overhead_s = 0.0
        self._counted_stages: set[int] = set()

    def attach(self, spark) -> None:
        """Point the tracer at the session whose jobs it accounts."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        traced = self.enabled and self._sc is not None
        if traced:
            self._open(idx, name)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if traced:
                self._close(sp, idx)

    # -- Spark accounting (traced runs only) ------------------------------
    def _open(self, idx: int, name: str) -> None:
        t = time.perf_counter()
        self._sc.setJobGroup(f"perfbench-{idx}", name)
        self.overhead_s += time.perf_counter() - t

    def _close(self, sp: Span, idx: int) -> None:
        """Account the jobs that ran under this span's own job group, then
        add them to every enclosing span, so counts are inclusive like
        times. A stage is counted once, in the span that ran it: a later
        job that reuses its shuffle output lists it again as skipped."""
        t = time.perf_counter()
        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        job_ids = list(tracker.getJobIdsForGroup(f"perfbench-{idx}"))
        own = {k: 0 for k, _ in _STAGE_FIELDS}
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                if sid in self._counted_stages:
                    continue
                self._counted_stages.add(sid)
                attempts = store.stageData(sid, False, None, False, no_quantiles)
                for i in range(attempts.size()):
                    a = attempts.apply(i)
                    for key, getter in _STAGE_FIELDS:
                        own[key] += getattr(a, getter)()
        own["jobs"] = len(job_ids)
        node: Span | None = sp
        while node is not None:
            for key, v in own.items():
                node.spark[key] = node.spark.get(key, 0) + v
            node = self.spans[node.parent] if node.parent is not None else None
        if self._stack:
            top = self._stack[-1]
            sc.setJobGroup(f"perfbench-{top}", self.spans[top].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.overhead_s += time.perf_counter() - t

    # -- queries over the recorded spans ----------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def top_level(self, t0: float, t1: float) -> list[Span]:
        """Spans with no parent that started inside [t0, t1]."""
        return [s for s in self.spans if s.parent is None and t0 <= s.t0 <= t1]


def tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # the process ended between listing and reading
    return pids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        total = sum(_rss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024.0
