"""Shared measurement plumbing: the Spark session, the status-store reader,
in-memory spans and the percentile helpers every workload reports with.

Nothing here changes how the program runs. Spans are recorded around calls
the benchmark makes into the package; Spark job and stage metrics are read
from the session's status store after the work, never during it.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# -- percentiles -------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]); 0.0 for an empty sample."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def timed_units(seconds: float, unit_s: float) -> int:
    """How many rounds or passes a run times: ``seconds`` over the unit's
    nominal time, at least one. It depends on the arguments only, so every
    run of a workload times the same work whatever the host's speed."""
    return max(1, round(seconds / unit_s))


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    trace: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written once at the end. A disabled tracer
    hands out no spans and costs one attribute test per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sp = Span(
            name=name,
            trace=trace or (parent.trace if parent else ""),
            span_id=next(self._ids),
            parent=parent.span_id if parent else None,
            start=time.time(),
            attrs=attrs,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, trace: str, parent: int | None, start: float,
            end: float, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a Spark job's interval)."""
        if not self.enabled:
            return 0
        sid = next(self._ids)
        with self._lock:
            self.spans.append(Span(name, trace, sid, parent, start, end, attrs))
        return sid

    def adopt(self, parent: int, trace: str, start: float, end: float) -> None:
        """Make ``parent`` the parent of the root spans of ``trace`` that lie
        inside [start, end] (spans recorded on other threads)."""
        with self._lock:
            for sp in self.spans:
                if (
                    sp.parent is None
                    and sp.trace == trace
                    and sp.span_id != parent
                    and start <= sp.start
                    and sp.end <= end
                ):
                    sp.parent = parent

    def self_times(self) -> dict[str, float]:
        """Sum of self time by span name: duration minus the union of the
        intervals its children cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = union_length(
                [(c.start, c.end) for c in children.get(sp.span_id, [])],
                sp.start,
                sp.end,
            )
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "trace": s.trace,
                "id": s.span_id,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in sorted(self.spans, key=lambda s: (s.start, s.span_id))
        ]


def union_length(
    intervals: list[tuple[float, float]], lo: float = -math.inf, hi: float = math.inf
) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
    return total


# -- Spark status store ------------------------------------------------------


@dataclass(frozen=True)
class StageStat:
    stage_id: int
    run_s: float
    cpu_s: float
    shuffle_bytes: int  # shuffle write + read
    spill_bytes: int  # memory + disk spill
    tasks: int


@dataclass(frozen=True)
class JobStat:
    job_id: int
    group: str
    start: float  # epoch seconds
    end: float
    stage_ids: tuple[int, ...]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class StatusStore:
    """Reads finished jobs and stages from the session's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sparkContext().statusStore()

    def stages(self, after: int = -1) -> dict[int, StageStat]:
        jvm = self._sc._jvm
        empty = jvm.java.util.ArrayList()
        q = self._sc._gateway.new_array(jvm.double, 0)
        lst = self._store.stageList(empty, False, False, q, empty)
        out: dict[int, StageStat] = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid <= after:
                continue
            prev = out.get(sid)
            st = StageStat(
                sid,
                s.executorRunTime() / 1000.0,
                s.executorCpuTime() / 1e9,
                s.shuffleWriteBytes() + s.shuffleReadBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
                s.numTasks(),
            )
            if prev is not None:  # several attempts: add them up
                st = StageStat(
                    sid,
                    prev.run_s + st.run_s,
                    prev.cpu_s + st.cpu_s,
                    prev.shuffle_bytes + st.shuffle_bytes,
                    prev.spill_bytes + st.spill_bytes,
                    prev.tasks + st.tasks,
                )
            out[sid] = st
        return out

    def max_stage_id(self) -> int:
        return max(self.stages(), default=-1)

    def jobs(self, after: int = -1) -> list[JobStat]:
        jvm = self._sc._jvm
        lst = self._store.jobsList(jvm.java.util.ArrayList())
        out = []
        for i in range(lst.size()):
            j = lst.apply(i)
            if j.jobId() <= after:
                continue
            sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is None or comp is None:
                continue
            ids = j.stageIds()
            out.append(
                JobStat(
                    j.jobId(),
                    _opt(j.jobGroup(), ""),
                    sub.getTime() / 1000.0,
                    comp.getTime() / 1000.0,
                    tuple(ids.apply(k) for k in range(ids.size())),
                )
            )
        return sorted(out, key=lambda j: j.job_id)

    def max_job_id(self) -> int:
        return max((j.job_id for j in self.jobs()), default=-1)


def stage_totals(stages: dict[int, StageStat]) -> dict[str, float]:
    vals = stages.values()
    return {
        "task_s": sum(s.run_s for s in vals),
        "cpu_s": sum(s.cpu_s for s in vals),
        "shuffle_bytes": float(sum(s.shuffle_bytes for s in vals)),
        "spill_bytes": float(sum(s.spill_bytes for s in vals)),
        "tasks": float(sum(s.tasks for s in vals)),
    }


SPARK_UNITS = {
    "spark.session_s": "s",  # session start, filled in by run.py
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.busy_s": "s",
    "spark.idle_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


def spark_layer(stages, jobs, t_run: float, t_end: float, n: int) -> dict:
    busy = union_length([(j.start, j.end) for j in jobs], t_run, t_end)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.tasks": sum(s.tasks for s in stages.values()) / n,
        "spark.busy_s": busy / n,
        "spark.idle_s": ((t_end - t_run) - busy) / n,
        "spark.shuffle_bytes": sum(s.shuffle_bytes for s in stages.values()) / n,
        "spark.spill_bytes": sum(s.spill_bytes for s in stages.values()) / n,
    }


# -- memory ------------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver: this Python process plus its JVM."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0
