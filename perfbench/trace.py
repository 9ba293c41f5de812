"""Spans around the calls into each layer, and Spark's counters per span.

``Tracer.patch`` replaces a package function with a wrapper (``wrap``).
Each wrapper records a span (name, start, end, parent, label, thread) in
memory and tags the Spark jobs it starts with a job group of its own,
restoring the caller's group afterwards; spans nest per thread, because
``run_pipeline`` runs tables on a thread pool. After a pass, ``read_jobs``
reads job, stage and task counters from Spark's status store, which works
with the UI off; ``span_of`` joins a job to its span by job group.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    start: float  # wall clock, the clock Spark stamps jobs with
    end: float
    ms: float  # duration on the monotonic clock, which the wall clock may step against
    parent: int | None
    label: str | None
    thread: int


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    start: float
    end: float
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    task_skew: list[float] = field(default_factory=list)  # max / median run time per stage


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []

    # -- spans --------------------------------------------------------------

    def wrap(self, name: str, fn, label=None):
        """``fn`` with a span named ``name``; ``label(args, kwargs)`` names
        the table or query the call serves."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            sid = next(self._ids)
            parent = stack[-1] if stack else None
            prev_group = self._sc.getLocalProperty(GROUP_KEY)
            self._sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
            stack.append(sid)
            start, t0 = time.time(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                ms = (time.perf_counter() - t0) * 1e3
                end = time.time()
                stack.pop()
                self._sc.setLocalProperty(GROUP_KEY, prev_group)
                span = Span(
                    sid, name, start, end, ms, parent,
                    label(args, kwargs) if label else None, threading.get_ident(),
                )
                with self._lock:
                    self.spans.append(span)

        return traced

    def patch(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. For a module-level
        function every ``dumpty_spark`` module that imported it by name is
        patched too, so calls from inside the package are seen."""
        orig = getattr(owner, attr)
        traced = self.wrap(name, orig, label)
        targets = [owner]
        if isinstance(owner, type(sys)):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith("dumpty_spark") and m is not owner and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def take_spans(self) -> list[Span]:
        with self._lock:
            spans, self.spans = self.spans, []
        return spans

    # -- Spark counters -----------------------------------------------------

    def _store(self):
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore()

    def last_job_id(self) -> int:
        seq = self._store().jobsList(None)  # newest first
        return seq.apply(0).jobId() if seq.size() else -1

    def read_jobs(self, after_job_id: int) -> list[Job]:
        """Jobs with an id above ``after_job_id``, with their stages'
        counters summed (skipped stages carry no work and are left out)."""
        store = self._store()
        gw = self._sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        seq = store.jobsList(None)
        seen_stages: set[int] = set()
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= after_job_id:
                break
            if not j.completionTime().isDefined():
                continue
            job = Job(
                job_id=j.jobId(),
                group=_opt(j.jobGroup()),
                description=_opt(j.description()),
                start=j.submissionTime().get().getTime() / 1e3,
                end=j.completionTime().get().getTime() / 1e3,
            )
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                job.tasks += sd.numTasks()
                job.failed_tasks += sd.numFailedTasks()
                job.run_ms += sd.executorRunTime()
                job.cpu_ms += sd.executorCpuTime() / 1e6
                job.gc_ms += sd.jvmGcTime()
                job.shuffle_bytes += sd.shuffleWriteBytes()
                job.output_bytes += sd.outputBytes()
                summary = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    q = summary.get().executorRunTime()
                    job.task_skew.append(q.apply(1) / max(q.apply(0), 1.0))
            jobs.append(job)
        return sorted(jobs, key=lambda x: x.job_id)

    def storage_held_mb(self) -> float:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / 2**20


def _opt(o):
    return o.get() if o.isDefined() else None


def span_of(job: Job) -> int | None:
    if job.group and job.group.startswith(GROUP_PREFIX):
        return int(job.group[len(GROUP_PREFIX):])
    return None


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part covered by its child spans."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
    return {s.sid: s.ms - child_ms.get(s.sid, 0.0) for s in spans}


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3


def max_overlap(intervals: list[tuple[float, float]]) -> int:
    events = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    best = cur = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best
