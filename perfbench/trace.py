"""Spans around the engine's public calls, and Spark's job profile.

``Tracer.install`` replaces each traced function wherever a caller looks
it up: every ``etl__project_spark`` module attribute bound to the
original function object (so ``load_batch`` as imported into
``streaming.pipeline`` and into the catalog modules), and methods on
their class. Spans are kept in memory; ``write`` dumps them at the end.

``JobLog`` reads Spark's in-process status store after each timed region
(never inside it): the jobs submitted since the last read, their
intervals, and their stages' task, CPU, GC and shuffle counters.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

from perfbench.stats import union_length


@dataclass
class Span:
    sid: int
    name: str
    op: str
    start: float  # epoch seconds (the status store's clock)
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    install nothing; the untraced run measures the program as it is."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = ""
        self.self_time = 0.0  # wrapper bookkeeping inside timed regions
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent_for(self, name: str) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1].sid
        # A call made on a thread the engine started (foreachBatch
        # callbacks, load_batch's publish pool): its parent is the most
        # recent span still open elsewhere, skipping same-named siblings.
        cands = [s for s in self._open.values() if s.name != name]
        return max(cands, key=lambda s: s.start).sid if cands else None

    def open(self, name: str) -> Span:
        with self._lock:
            span = Span(
                sid=len(self.spans),
                name=name,
                op=self.op,
                start=time.time(),
                parent=self._parent_for(name),
            )
            self.spans.append(span)
            self._open[span.sid] = span
        self._stack().append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self._open.pop(span.sid, None)

    # -- installation ------------------------------------------------------
    def _wrap(self, fn, name: str, describe):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            span = tracer.open(name)
            t_call = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            except BaseException as exc:
                span.error = type(exc).__name__
                raise
            finally:
                t_ret = time.perf_counter()
                tracer.close(span)
            if describe is not None:
                span.attrs.update(describe(args, kwargs, result))
            tracer.self_time += (t_call - t_in) + (time.perf_counter() - t_ret)
            return result

        return traced

    def install(self, targets) -> None:
        """``targets``: ``(owner, attr, span_name, describe)`` tuples, where
        ``owner`` is a module or class. No-op when disabled."""
        if not self.enabled:
            return
        for owner, attr, name, describe in targets:
            orig = getattr(owner, attr)
            wrapped = self._wrap(orig, name, describe)
            if isinstance(owner, type):
                setattr(owner, attr, wrapped)
                continue
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith("etl__project_spark") and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "op": s.op,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "attrs": s.attrs,
                            "error": s.error,
                        }
                    )
                    + "\n"
                )


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of it its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.sid]
    return span.dur - union_length(kids, span.start, span.end)


@dataclass
class JobStats:
    job_id: int
    submitted: float  # epoch seconds
    completed: float
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0


class JobLog:
    """Reads finished jobs from Spark's status store (py4j; works with the
    UI disabled). ``collect`` returns the jobs submitted since the last
    call."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._last = -1
        self.collect()  # skip jobs that ran before the benchmark began

    def collect(self) -> list[JobStats]:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        out = []
        newest = self._last
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last:
                continue
            newest = max(newest, jid)
            sub = j.submissionTime()
            done = j.completionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime() / 1000.0
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
            js = JobStats(jid, t0, t1)
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Py4JError:  # stage evicted from the store
                    continue
                js.tasks += st.numCompleteTasks()
                js.cpu_s += st.executorCpuTime() / 1e9
                js.gc_s += st.jvmGcTime() / 1e3
                js.shuffle_write_bytes += st.shuffleWriteBytes()
            out.append(js)
        self._last = newest
        return sorted(out, key=lambda j: j.submitted)


def assign_jobs(jobs: list[JobStats], spans: list[Span]) -> dict[int, list[JobStats]]:
    """Map span id → the jobs whose submission time falls inside it,
    choosing the innermost (shortest) containing span."""
    out: dict[int, list[JobStats]] = {}
    for j in jobs:
        inside = [s for s in spans if s.start <= j.submitted <= s.end]
        if inside:
            out.setdefault(min(inside, key=lambda s: s.dur).sid, []).append(j)
    return out


def job_profile(jobs: list[JobStats], lo: float, hi: float) -> dict[str, float]:
    """Spark-side split of the wall interval ``[lo, hi]``."""
    covered = union_length([(j.submitted, j.completed) for j in jobs], lo, hi)
    return {
        "jobs": len(jobs),
        "covered_s": covered,
        "driver_only_s": (hi - lo) - covered,
        "task_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
    }
