"""Outside-in measurement of the program's layers.

``Recorder`` keeps spans in memory: one per operation (tagged with a Spark
job group) and one per layer call inside it (tagged with a job
description). After each operation it reads job, stage and task counts
from ``SparkContext.statusTracker()`` and the pinned RDDs from the
driver. ``RssSampler`` samples the resident memory of the JVM and its
Python workers from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from procs import descendants

MB = 1024.0 * 1024.0


@dataclass
class Span:
    layer: str  # session | io | sources | queries | operators | plans
    label: str  # job description while the span ran
    t0: float
    t1: float


@dataclass
class OpRecord:
    pass_idx: int
    name: str
    group: str
    t0: float = 0.0
    t1: float = 0.0
    spans: list[Span] = field(default_factory=list)
    jobs_by_label: dict[str, int] = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    pinned_rdds: int = 0
    pinned_mb: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    def layer_s(self, layer: str) -> float:
        return sum(s.t1 - s.t0 for s in self.spans if s.layer == layer)


def pinned(sc) -> tuple[int, float]:
    """(persistent RDD count, MB their blocks hold in memory and on disk)."""
    jsc = sc._jsc.sc()
    n = jsc.getPersistentRDDs().size()
    held = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
    return n, held / MB


def drain_listener(sc, timeout_ms: int = 10_000) -> None:
    """Wait until the listener bus has delivered every posted event, so
    the status tracker has seen every job that already ran."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


class Recorder:
    def __init__(self, sc, run_tag: str):
        self.sc = sc
        self.run_tag = run_tag
        self.ops: list[OpRecord] = []
        self._op: OpRecord | None = None
        self._seq = 0

    def _group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def op(self, pass_idx: int, name: str):
        group = f"{self.run_tag}:p{pass_idx}:{self._seq}:{name}"
        self._seq += 1
        rec = OpRecord(pass_idx, name, group)
        self.sc.setJobGroup(group, name)
        self._op = rec
        rec.t0 = time.time()
        try:
            yield rec
        except Exception as e:  # an operation that raised counts as failed
            rec.error = f"{type(e).__name__}: {e}"
        finally:
            rec.t1 = time.time()
            self._op = None
            self.sc.setLocalProperty("spark.job.description", None)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            drain_listener(self.sc)
            self._count(rec)
            rec.pinned_rdds, rec.pinned_mb = pinned(self.sc)
            self.ops.append(rec)

    @contextmanager
    def span(self, layer: str, label: str):
        """Time one call into ``layer``; jobs it starts carry ``label``."""
        rec = self._op
        self.sc.setLocalProperty("spark.job.description", label)
        before = set(self._group_jobs(rec.group))
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            drain_listener(self.sc)
            started = set(self._group_jobs(rec.group)) - before
            rec.jobs_by_label[label] = rec.jobs_by_label.get(label, 0) + len(started)
            rec.spans.append(Span(layer, label, t0, t1))

    def _count(self, rec: OpRecord) -> None:
        st = self.sc.statusTracker()
        stages = set()
        jobs = self._group_jobs(rec.group)
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        rec.jobs = len(jobs)
        for sid in stages:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                rec.stages += 1
                rec.tasks += s.numCompletedTasks


def descendants_rss_mb(root_pid: int) -> tuple[float, float]:
    """Summed RSS of every descendant of ``root_pid`` (the JVM that
    spark-submit started and the Python workers it forked), as (JVM MB,
    other processes' MB)."""
    jvm, other = 0, 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
        except OSError:
            continue
        if is_jvm:
            jvm += rss
        else:
            other += rss
    return jvm / MB, other / MB


class RssSampler:
    """Background sampler of the peak summed RSS of this process's
    descendants. Start with ``with``; read ``peak_mb`` (and the JVM's
    and the other processes' shares at that peak) after exit."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_split = (0.0, 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            jvm, other = descendants_rss_mb(pid)
            if jvm + other > self.peak_mb:
                self.peak_mb, self.peak_split = jvm + other, (jvm, other)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
