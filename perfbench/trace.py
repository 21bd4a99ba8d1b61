"""Spans and layer counters recorded from outside the engine.

Nothing here edits the engine. In a traced run the harness wraps the
engine's own entry points at their module boundaries (``load_table``,
``SOM._fit``, the kernel calls made in this process) for the length of the run
and puts every wrapper back afterwards. Spark's counters come from
the SparkContext's status store and job groups, both of which work with
``spark.ui.enabled=false``.

Single client, closed loop: while an operation runs nothing else
submits Spark jobs, so the job ids between two watermarks belong to
that operation. The job group set around each operation is checked
against that range, and jobs outside the group are reported as
``spark.ungrouped_jobs`` (jobs launched from engine threads that do not
inherit the caller's local properties).
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStatus:
    """Per-job and per-stage counters read from the SparkContext's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def jobs(self, lo: int, hi: int, group: str | None = None) -> dict:
        """Counters of jobs ``lo <= id < hi``: jobs, stages, tasks, executor
        run and CPU time, shuffle bytes, busy seconds (union of job
        intervals), and the jobs whose group is not ``group``."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
            "executor_cpu_ms": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "ungrouped_jobs": 0,
        }
        intervals = []
        seen_stages: set[int] = set()
        for jid in range(lo, hi):
            jd = self._store.job(jid)
            out["jobs"] += 1
            if group is not None:
                g = jd.jobGroup()
                if not g.isDefined() or g.get() != group:
                    out["ungrouped_jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(sd.numTasks())
                out["executor_run_ms"] += int(sd.executorRunTime())
                out["executor_cpu_ms"] += int(sd.executorCpuTime()) / 1e6
                out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
        out["job_busy_s"] = union_seconds(intervals)
        out["intervals"] = intervals
        return out


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s last
    query execution (from its QueryPlanningTracker)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += float(p.get().durationMs())
    return total


@dataclass
class FitRecord:
    start: float
    end: float = 0.0
    first_temperature: float | None = None
    last_update_end: float | None = None
    jobs: int = 0
    iterations: int = 0

    @property
    def prep_s(self) -> float:
        """From the fit call to its first ``temperature`` call: count,
        init sample and block collect or persist."""
        return (self.first_temperature or self.end) - self.start

    @property
    def loop_s(self) -> float:
        """From the first ``temperature`` call to the end of the last
        codebook update."""
        return (self.last_update_end or self.end) - (self.first_temperature or self.end)


class Tracer:
    """Spans plus the per-operation counters of one traced phase."""

    def __init__(self, status: SparkStatus) -> None:
        self.status = status
        self.spans: list[Span] = []
        self.fits: list[tuple[int | None, FitRecord]] = []
        self.kernel: list[tuple[int | None, dict]] = []
        self.loads: list[tuple[int | None, dict]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.op: int | None = None
        self._fit: FitRecord | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else None, op=self.op)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            own = (sp.end - sp.start) - union_seconds(children.get(i, []))
            out[sp.name] = out.get(sp.name, 0.0) + own
        return out

    # -- wrappers around engine entry points ----------------------------
    def _replace(self, original, wrapper) -> None:
        """Swap every module-level binding of ``original`` in the engine's
        loaded modules for ``wrapper`` (``from x import f`` copies the
        binding into each importer)."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("sparkml_som_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        from sparkml_som_spark import sources
        from sparkml_som_spark.som import kernel
        from sparkml_som_spark.som.estimator import SOM

        tracer = self
        status = self.status

        orig_load = sources.load_table

        @functools.wraps(orig_load)
        def load_table(*args, **kwargs):
            j0 = status.next_job_id()
            with tracer.span("sources.load_table") as sp:
                out = orig_load(*args, **kwargs)
            tracer.loads.append((tracer.op, {"s": sp.end - sp.start, "jobs": status.next_job_id() - j0}))
            return out

        self._replace(orig_load, load_table)

        orig_fit = SOM._fit

        @functools.wraps(orig_fit)
        def _fit(som_self, dataset):
            rec = FitRecord(start=time.perf_counter())
            outer, tracer._fit = tracer._fit, rec
            j0 = status.next_job_id()
            try:
                with tracer.span("som.fit"):
                    model = orig_fit(som_self, dataset)
            finally:
                tracer._fit = outer
            rec.end = time.perf_counter()
            rec.jobs = status.next_job_id() - j0
            rec.iterations = model.summary.iterations
            tracer.fits.append((tracer.op, rec))
            return model

        SOM._fit = _fit
        self._patches.append((SOM, "_fit", orig_fit))

        orig_temp = kernel.temperature

        @functools.wraps(orig_temp)
        def temperature(*args, **kwargs):
            rec = tracer._fit
            if rec is not None and rec.first_temperature is None:
                rec.first_temperature = time.perf_counter()
            return orig_temp(*args, **kwargs)

        self._replace(orig_temp, temperature)

        orig_agg = kernel.aggregate_block

        @functools.wraps(orig_agg)
        def aggregate_block(block, codebook, n_cells, code_norms2=None):
            with tracer.span("som.kernel.aggregate_block") as sp:
                out = orig_agg(block, codebook, n_cells, code_norms2)
            if kernel.is_sparse_block(block):
                n, d = int(block[3]), int(block[4])
                nnz = len(block[2])
                flops = 2 * nnz * n_cells
                in_bytes = nnz * 16 + (n + 1) * 8
            else:
                n, d = block.shape
                flops = 2 * n * n_cells * d
                in_bytes = block.nbytes
            tracer.kernel.append((tracer.op, {
                "s": sp.end - sp.start,
                "flops": flops,
                # block read + codebook read + sums/counts written
                "bytes": in_bytes + codebook.nbytes + n_cells * d * 8 + n_cells * 8,
                "block_bytes": in_bytes,
                "block_id": id(block),
                "fit": id(tracer._fit),
            }))
            return out

        self._replace(orig_agg, aggregate_block)

        orig_update = kernel.smooth_update

        @functools.wraps(orig_update)
        def smooth_update(*args, **kwargs):
            with tracer.span("som.kernel.smooth_update"):
                out = orig_update(*args, **kwargs)
            if tracer._fit is not None:
                tracer._fit.last_update_end = time.perf_counter()
            return out

        self._replace(orig_update, smooth_update)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
