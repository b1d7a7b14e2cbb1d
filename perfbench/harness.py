"""Shared run state: timed ops with failure accounting, the optional
tracer and job log, and the process-level measurements."""

from __future__ import annotations

import os
import random
import time
import traceback
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import JobLog, JobStats, Span, Tracer


@dataclass
class Op:
    kind: str  # "tick" / "read.<type>" / "query"
    name: str
    wall: float
    start: float  # epoch seconds
    end: float
    error: str | None = None
    span: Span | None = None
    jobs: list[JobStats] = field(default_factory=list)
    key: str = ""  # unique op id; spans carry it as ``Span.op``
    params: dict | None = None
    trace_self_s: float = 0.0  # tracer bookkeeping inside this op


class Ctx:
    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rng = random.Random(seed)
        self.tracer = Tracer(trace)
        self.jobs = JobLog(spark) if trace else None
        self.ops: list[Op] = []
        self._seq = 0
        self.checks: list[str] = []  # failed output checks, empty = correct

    def timed(self, kind: str, name: str, fn, record: bool = True):
        """Run ``fn`` as one closed-loop op. Exceptions are counted by
        class, never raised; the status store is read after the timed
        region. Returns ``(result, op)``."""
        if self.jobs is not None:
            self.jobs.collect()  # drop jobs from untimed work before this op
        self._seq += 1
        key = f"{kind}:{name}#{self._seq}"
        self.tracer.op = key
        span = self.tracer.open(f"op.{kind}") if self.tracer.enabled else None
        result, error = None, None
        self_before = self.tracer.self_time
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            error = type(exc).__name__
            traceback.print_exc()
        wall = time.perf_counter() - p0
        t1 = time.time()
        if span is not None:
            span.error = error
            self.tracer.close(span)
        self.tracer.op = ""
        op = Op(kind, name, wall, t0, t1, error, span, key=key)
        op.trace_self_s = self.tracer.self_time - self_before
        if self.jobs is not None:
            op.jobs = self.jobs.collect()
        if record:
            self.ops.append(op)
        return result, op

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.checks.append(what)


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM
    it launched."""
    kb = _hwm_kb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


def environment(spark) -> dict:
    """Everything a result depends on besides the code and the seed."""
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def e2e(walls: list[float], failed: bool, setup_s: float) -> dict:
    """The end-to-end metrics every workload reports over its op walls.
    A failed op nulls the latency figures: a partial run never reads as a
    faster complete one. There is no median: over the 17 distinct headline
    queries it spread more than the bound allows for (IQR 12% of median
    over ten seeds, against 7% for the mean)."""
    bad = failed or not walls
    return {
        "setup_s": setup_s,
        "op_mean_s": None if bad else sum(walls) / len(walls),
        "op_geomean_s": None if bad else stats.geomean(walls),
    }
