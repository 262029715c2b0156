"""Spans around calls into the engine's modules, with Spark job metrics.

Spans are recorded from the benchmark's side only: ``Tracer.patch`` swaps
a module function for a wrapper by rebinding module attributes inside this
process (every module that imported the function by name is rebound too),
and ``Tracer.span`` wraps the benchmark's own calls.  Each span runs under
its own Spark job group, so the jobs it starts, and their stages' CPU,
shuffle and spill, are attributed to it and not to its parent.  Spans live
in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

from procstat import tree_cpu_s

PACKAGE = "pyspark_kmeans_spark"
MB = 1024.0 * 1024.0


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it that its children cover
    (children's intervals are merged first, so overlaps count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s["end"] - s["start"] - covered)
    return out


class Tracer:
    """Span recorder for one run.  ``enabled=False`` makes every method a
    no-op, so the untraced run executes the same code path."""

    def __init__(self, spark, run_id: str, *, enabled: bool, jvm_pid: int | None = None):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.bookkeeping_s = 0.0  # time spent recording spans, inside passes
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _set_group(self, idx: int | None) -> None:
        group = None if idx is None else self.spans[idx]["group"]
        desc = None if idx is None else self.spans[idx]["name"]
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", desc)

    @contextmanager
    def span(self, name: str, *, python_cpu: bool = False):
        """Record ``name`` around the block.  ``python_cpu`` also records
        the CPU of the JVM's child processes (the Python workers)."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "run": self.run_id,
            "parent": parent,
            "group": f"{self.run_id}-{idx}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self._set_group(idx)
        py0 = tree_cpu_s(self.jvm_pid, exclude_root=True) if python_cpu else None
        self.bookkeeping_s += time.perf_counter() - t_in
        try:
            yield
        finally:
            t_out = time.perf_counter()
            rec["end"] = t_out
            if py0 is not None:
                rec["python_cpu_s"] = tree_cpu_s(self.jvm_pid, exclude_root=True) - py0
            self._stack.pop()
            self._set_group(parent)
            self.bookkeeping_s += time.perf_counter() - t_out

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    # -- patching ------------------------------------------------------
    def _rebind(self, orig, repl) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, repl)
                    self._patched.append((mod, attr, orig))

    def patch(self, module: str, attr: str, span_name: str) -> None:
        """Record a span around every call of ``module.attr``."""
        if not self.enabled:
            return
        orig = getattr(importlib.import_module(module), attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        self._rebind(orig, wrapper)

    def patch_method(self, cls, attr: str, span_name: str) -> None:
        """Record a span around a class method (for library classes the
        engine calls into, such as the MLlib model writer)."""
        if not self.enabled:
            return
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        setattr(cls, attr, wrapper)
        self._patched.append((cls, attr, orig))

    def patch_counter(self, module: str, attr: str, calls: str, hits: str) -> None:
        """Count calls of ``module.attr`` and the ones returning non-None."""
        if not self.enabled:
            return
        orig = getattr(importlib.import_module(module), attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            out = orig(*a, **kw)
            self.count(calls)
            if out is not None:
                self.count(hits)
            return out

        self._rebind(orig, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark metrics -------------------------------------------------
    def collect_stage_metrics(self) -> None:
        """Fill jobs / executor CPU / shuffle / spill / failures into every
        finished span that has none yet.  Waits for the listener bus first,
        so the status store has seen the end of every job."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if rec["end"] is None or "jobs" in rec:
                continue
            m = {"jobs": 0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                 "tasks_failed": 0, "stages_retried": 0}
            stage_ids = set()
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                m["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped stages have no attempt
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                m["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                m["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
                m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                m["tasks_failed"] += sd.numFailedTasks()
                m["stages_retried"] += sd.attemptId()
            rec.update(m)
