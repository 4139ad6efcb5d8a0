"""In-memory spans around the package's layer entry points, with Spark
counters attributed per span.

A span is ``(name, layer, start, end, parent)`` plus the range of Spark
job ids launched while it was open. Job ids are allocated sequentially
by the DAG scheduler and the benchmark drives Spark from one thread, so
the jobs of a span are exactly ``[job0, job1)``. Per-job stage metrics
(tasks, shuffle bytes, spill, executor time) are read once from the
status store when the run ends, so an open span costs one py4j call at
each edge. ``light`` spans (layers that only build lazy expressions)
skip even that.

Wrappers are installed where names are looked up: every module of the
package that bound an original function (``from x import f``) gets the
wrapper in its namespace, and class methods are replaced on the class.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import sys
import time

PACKAGE = "databridge_etl_tools_spark"

#: what :meth:`Tracer.job_metrics` sums per job over its stages
JOB_COUNTERS = (
    "stages", "tasks", "failed_tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s",
)


class Span:
    __slots__ = ("name", "layer", "parent", "t0", "t1", "job0", "job1", "cg0", "cg1", "attrs")

    def __init__(self, name, layer, parent, t0):
        self.name = name
        self.layer = layer
        self.parent = parent
        self.t0 = t0
        self.t1 = None
        self.job0 = self.job1 = None
        self.cg0 = self.cg1 = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (children of one thread never overlap, but the
    union is taken anyway so the arithmetic holds for any input)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, edge = 0.0, s.t0
        for c in sorted(kids.get(i, ()), key=lambda c: c.t0):
            lo, hi = max(c.t0, edge, s.t0), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                edge = hi
        out.append(s.dur - covered)
    return out


class Tracer:
    """Collects spans. Until :meth:`attach` it only times (what an
    untraced run needs); attached, spans also record job ids and, for
    ``codegen=True`` spans, the JVM's codegen counters."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._dag = None

    # -- recording -------------------------------------------------------
    def attach(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        cm = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._sc = sc
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._cg = sc._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cg_count = cm.METRIC_COMPILATION_TIME()
        self._cg_size = cm.METRIC_SOURCE_CODE_SIZE()

    def next_job(self) -> int | None:
        return None if self._dag is None else self._dag.nextJobId()

    def codegen(self) -> tuple[int, int] | None:
        """(compilations so far, compile nanoseconds so far)."""
        if self._dag is None:
            return None
        return self._cg_count.getCount(), self._cg.compileTime()

    def max_source_bytes(self) -> int:
        """Largest generated source in the JVM's recent-sample histogram."""
        return 0 if self._dag is None else int(self._cg_size.getSnapshot().getMax())

    def open(self, name: str, layer: str, light: bool = False, codegen: bool = False) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, parent, 0.0)
        if not light:
            s.job0 = self.next_job()
            if codegen:
                s.cg0 = self.codegen()
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.t0 = time.perf_counter()  # after the py4j reads, which the parent absorbs
        return s

    def close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        if s.job0 is not None:
            s.job1 = self.next_job()
        if s.cg0 is not None:
            s.cg1 = self.codegen()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, codegen: bool = False):
        s = self.open(name, layer or name, codegen=codegen)
        try:
            yield s
        finally:
            self.close(s)

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    # -- patching --------------------------------------------------------
    def wrap(self, fn, name: str, layer: str, light: bool = False, after=None):
        """``after(span, args, kwargs, result)`` may add attributes once
        the span is closed, so its own cost stays outside the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self.open(name, layer, light)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                s.attrs["raised"] = True
                raise
            finally:
                self.close(s)
            if after is not None:
                after(s, args, kwargs, out)
            return out

        return traced

    def replace(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until :meth:`restore`."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def patch_functions(self, module, layer: str, light: bool = False, after=None) -> None:
        """Wrap the public functions defined in ``module`` and rebind
        every package-module name that refers to one of them.
        ``after`` maps a function name to its :meth:`wrap` hook."""
        after = after or {}
        wrapped = {
            id(f): (f, self.wrap(f, f"{layer}.{n}", layer, light, after.get(n)))
            for n, f in vars(module).items()
            if callable(f)
            and not isinstance(f, type)
            and not n.startswith("_")
            and getattr(f, "__module__", None) == module.__name__
        }
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                orig, w = wrapped.get(id(val), (None, None))
                if val is orig:
                    self.replace(mod, attr, w)

    def patch_methods(self, cls, layer: str, names) -> None:
        for n in names:
            self.replace(cls, n, self.wrap(cls.__dict__[n], f"{layer}.{n}", layer))

    def restore(self) -> None:
        while self._patches:
            owner, attr, val = self._patches.pop()
            setattr(owner, attr, val)

    # -- Spark counters --------------------------------------------------
    def job_metrics(self, jobs: range) -> dict[int, dict]:
        """Per job: stages, tasks, failed tasks, shuffle bytes, spill and
        executor time, read from the status store. Skipped stages (their
        shuffle output reused) count as stages but carry no work."""
        out = {}
        tracker = self._sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            m = dict.fromkeys(JOB_COUNTERS, 0)
            if info is not None:
                for sid in info.stageIds:
                    m["stages"] += 1
                    try:
                        sd = self._store.lastStageAttempt(sid)
                    except Exception:  # evicted or never attempted
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    m["tasks"] += sd.numTasks()
                    m["failed_tasks"] += sd.numFailedTasks()
                    m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    m["executor_run_s"] += sd.executorRunTime() / 1e3
                    m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out[j] = m
        return out


# ---------------------------------------------------------------------
# aggregation over a pass
# ---------------------------------------------------------------------


def descendants(spans: list[Span], root: int) -> list[int]:
    """Indices of the spans nested under ``root`` (excluding it)."""
    inside = {root}
    out = []
    for i in range(root + 1, len(spans)):
        if spans[i].parent in inside:
            inside.add(i)
            out.append(i)
    return out


def outermost(spans: list[Span], idx: list[int], pred) -> list[int]:
    """Spans matching ``pred`` with no matching ancestor, so nested calls
    within one layer are counted once."""
    chosen = set()
    out = []
    for i in idx:
        p, covered = spans[i].parent, False
        while p is not None:
            if p in chosen:
                covered = True
                break
            p = spans[p].parent
        if pred(spans[i]) and not covered:
            chosen.add(i)
            out.append(i)
    return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
