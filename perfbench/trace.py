"""Spans around the product's public calls, and Spark's own metrics
attributed to them.

A :class:`Tracer` wraps ``StageCatalog.stage/write/flush``,
``DedupPipeline.run`` and ``IncrementalDedup.apply`` (which ``append``
and ``remove`` call) for the
duration of :meth:`Tracer.patched`. Each wrapped call records a span
(name, start, end, parent) and tags the Spark jobs submitted from its
thread with ``SparkContext.addJobTag``. PySpark pins every Python thread
to its own JVM thread, so the pipeline's concurrent branch threads and
the catalog's background writer threads tag their jobs separately.

:func:`fold_status_store` then reads Spark's in-memory status store
(jobs → stage ids → stage data). Reading it submits no Spark job.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

TAG_PREFIX = "perfbench-span-"
#: spans of the product's entry points
CALLS = ("run", "apply")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.id}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it its child spans cover.
    Children may overlap each other (concurrent threads) and may run
    past their parent (background writes); only the covered part of the
    parent's own interval counts."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration - _covered(
            s.start, s.start + s.duration,
            [(c.start, c.start + c.duration) for c in children.get(s.id, [])],
        )
        for s in spans
    }


class Tracer:
    """Records spans in memory; nothing is written until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        #: latest span per stage name, the parent of that stage's
        #: checkpoint write on a background writer thread
        self._stage_spans: dict[str, int] = {}
        #: open run/apply spans: the parent of spans opened on
        #: threads the product started (branch and pool threads)
        self._open_calls: list[int] = []
        self.root: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, stage: str | None = None):
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].id
            elif stage is not None and stage in self._stage_spans:
                parent = self._stage_spans[stage]
            elif self._open_calls:
                parent = self._open_calls[-1]
            else:
                parent = self.root
            sp = Span(len(self.spans), name, parent, time.monotonic())
            self.spans.append(sp)
            if self.root is None:
                self.root = sp.id
            if name.startswith("stage:"):
                self._stage_spans[name[len("stage:"):]] = sp.id
            if name in CALLS:
                self._open_calls.append(sp.id)
        self.sc.addJobTag(sp.tag)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            self.sc.removeJobTag(sp.tag)
            sp.end = time.monotonic()
            if name in CALLS:
                with self._lock:
                    self._open_calls.remove(sp.id)

    @contextmanager
    def patched(self):
        """Wrap the product's public calls while the block runs."""
        from dedup_spark.catalog import StageCatalog
        from dedup_spark.incremental import IncrementalDedup
        from dedup_spark.pipeline import DedupPipeline

        tracer = self
        originals = []

        def wrap(cls, method: str, label):
            orig = getattr(cls, method)

            def wrapper(obj, *args, **kwargs):
                name, stage = label(args)
                with tracer.span(name, stage=stage):
                    return orig(obj, *args, **kwargs)

            originals.append((cls, method, orig))
            setattr(cls, method, wrapper)

        wrap(StageCatalog, "stage", lambda a: (f"stage:{a[0]}", None))
        wrap(StageCatalog, "write", lambda a: (f"write:{a[0]}", a[0]))
        wrap(StageCatalog, "flush", lambda a: ("flush", None))
        wrap(DedupPipeline, "run", lambda a: ("run", None))
        wrap(IncrementalDedup, "apply", lambda a: ("apply", None))
        try:
            yield self
        finally:
            for cls, method, orig in reversed(originals):
                setattr(cls, method, orig)


# ------------------------------------------------------------ status store

def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def max_job_id(sc) -> int:
    """Highest job id the status store knows, -1 before the first job
    (the benchmark and the product set no job group)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


@dataclass
class StageStats:
    stage_id: int
    num_tasks: int
    exec_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_read: float
    shuffle_write: float
    spill: float
    output_bytes: float
    task_median_ms: float
    task_max_ms: float


@dataclass
class JobStats:
    job_id: int
    tags: list[str]
    description: str
    stages: list[StageStats] = field(default_factory=list)


def fold_status_store(sc, after_job_id: int) -> list[JobStats]:
    """Jobs with id > ``after_job_id`` with the metrics of the stages
    they ran. A stage shared by several jobs (a reused shuffle) counts
    once, for the first job that lists it; stages that never ran are
    left out. Pure driver-side reads: submits no Spark job."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs = sorted(
        (j for j in _seq(store.jobsList(None)) if int(j.jobId()) > after_job_id),
        key=lambda j: int(j.jobId()),
    )
    seen: set[int] = set()
    out = []
    for j in jobs:
        desc = j.description()
        js = JobStats(int(j.jobId()), [str(t) for t in _seq(j.jobTags())],
                      str(desc.get()) if desc.isDefined() else str(j.name()))
        for sid in sorted(int(s) for s in _seq(j.stageIds())):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            med = mx = 0.0
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, mx = float(rt.apply(0)), float(rt.apply(1))
            js.stages.append(StageStats(
                stage_id=sid,
                num_tasks=int(sd.numTasks()),
                exec_ms=float(sd.executorRunTime()),
                cpu_ns=float(sd.executorCpuTime()),
                gc_ms=float(sd.jvmGcTime()),
                shuffle_read=float(sd.shuffleReadBytes()),
                shuffle_write=float(sd.shuffleWriteBytes()),
                spill=float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                output_bytes=float(sd.outputBytes()),
                task_median_ms=med,
                task_max_ms=mx,
            ))
        out.append(js)
    return out


def attribute(jobs: list[JobStats], spans: list[Span]) -> dict[int, int | None]:
    """Job id → the innermost span whose tag the job carries (None when
    the job carries no span tag)."""
    by_tag = {s.tag: s for s in spans}
    parent = {s.id: s.parent for s in spans}

    def depth(sid: int) -> int:
        d = 0
        while parent.get(sid) is not None:
            sid, d = parent[sid], d + 1
        return d

    out = {}
    for j in jobs:
        owners = [by_tag[t].id for t in j.tags if t in by_tag]
        out[j.job_id] = max(owners, key=depth) if owners else None
    return out


def subtree(spans: list[Span], root: int) -> set[int]:
    """``root`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out
