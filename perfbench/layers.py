"""Which package entry points the traced run wraps, and how a pass's
spans fold into the per-layer metrics of ``BENCHMARK.json``.

Layer names are the package's module paths. ``operators.merge`` and the
``functions`` modules only build lazy expressions, so their spans are
light (wall time and call count); their Spark cost lands in the span
that executes the plan.
"""

from __future__ import annotations

import importlib
import os

from spans import JOB_COUNTERS, PACKAGE, Tracer, descendants, median, outermost, self_times

#: modules whose public functions are wrapped: (module, light)
FUNCTION_LAYERS = {
    "plans.pipelines": False,
    "sources.csv_io": False,
    "operators.graph_np": False,
    "operators.graph": False,
    "operators.similarity": False,
    "operators.pca": False,
    "operators.orderstats": False,
    "operators.bpe": False,
    "operators.merge": True,
    "functions.geometry": True,
    "functions.geoproj": True,
}
TABLE_STORE_WRITES = ("create_table", "overwrite", "append", "truncate")
TABLE_STORE_METHODS = TABLE_STORE_WRITES + ("read", "analyze", "properties", "exists")
QA_METHODS = (
    "nonzero_count", "count_parity", "is_empty", "schema_fields_match",
    "geometry_precheck", "smoke_select", "record_diff_empty",
)
#: pyspark actions; callers bind ``materialize`` by name, so the
#: checkpoints are caught here instead
MATERIALIZE = ("localCheckpoint", "checkpoint")
COLLECTS = ("toArrow", "toPandas")
EAGER = MATERIALIZE + COLLECTS + ("count", "collect", "first", "take")
EAGER_LAYERS = ("operators.materialize", "driver.collect", "spark.eager")
ROUTE_LAYERS = (
    "operators.graph_np", "operators.graph", "operators.similarity",
    "operators.pca", "operators.orderstats", "operators.bpe",
)


#: layers whose self time (their span time outside any wrapped child,
#: i.e. driver-side Python and numpy work) the traced run reports
SELF_TIMED = ("registry.construct", "plans.pipelines") + ROUTE_LAYERS

#: operation groups whose median pass time the traced run reports
OP_GROUPS = ("load", "upsert", "extract", "publish", "ann", "graph")

_S, _N, _B, _R = "s", "count", "bytes", "ratio"
#: every per-layer metric the traced run prints, with its unit
PER_LAYER = {
    "session.start_s": _S,
    "layout.build_s": _S,
    "registry.construct_s": _S,
    "registry.construct_jobs": _N,
    "registry.execute_s": _S,
    "registry.execute_jobs": _N,
    "plans.pipelines.s": _S,
    "sources.csv_io.read_s": _S,
    "sources.csv_io.reads": _N,
    "sources.csv_io.reads_per_file": _R,
    "sources.csv_io.write_s": _S,
    "sources.csv_io.bytes_written": _B,
    "sources.table_store.s": _S,
    "sources.table_store.write_s": _S,
    "sources.table_store.write_jobs": _N,
    "sources.table_store.bytes_on_disk": _B,
    "sources.table_store.versions": _N,
    "qa.s": _S,
    "qa.jobs": _N,
    "operators.merge.s": _S,
    "operators.materialize.calls": _N,
    "operators.materialize.s": _S,
    "spark.eager_actions": _N,
    "driver.collect_calls": _N,
    "driver.collect_bytes": _B,
    "driver.collect_s": _S,
    "driver.collect_aborts": _N,
    **{f"{name}.s": _S for name in ROUTE_LAYERS},
    "functions.geometry.calls": _N,
    "functions.geoproj.calls": _N,
    "spark.jobs": _N,
    "spark.stages": _N,
    "spark.tasks": _N,
    "spark.failed_tasks": _N,
    "spark.shuffle_read_bytes": _B,
    "spark.shuffle_write_bytes": _B,
    "spark.spill_bytes": _B,
    "spark.executor_run_s": _S,
    "spark.executor_cpu_s": _S,
    "spark.core_busy_ratio": _R,
    "codegen.compiles": _N,
    "codegen.compile_s": _S,
    "codegen.max_source_bytes": _B,
    "codegen.warmup_compiles": _N,
    "codegen.warmup_compile_s": _S,
    **{f"{name}.self_s": _S for name in SELF_TIMED},
    "trace.pass_s": _S,
    "trace.overhead_s": _S,
    **{f"ops.{g}_s": _S for g in OP_GROUPS},
}


def _eager_layer(method: str) -> str:
    if method in MATERIALIZE:
        return "operators.materialize"
    if method in COLLECTS:
        return "driver.collect"
    return "spark.eager"


def _wrap_eager(tracer: Tracer, cls, method: str) -> None:
    """A nested action (``first`` → ``take`` → ``collect``) stays inside
    the outer action's span instead of opening its own."""
    orig = cls.__dict__[method]
    layer = _eager_layer(method)

    def action(self, *args, **kwargs):
        cur = tracer.current()
        if cur is not None and cur.layer in EAGER_LAYERS:
            return orig(self, *args, **kwargs)
        s = tracer.open(f"{layer}.{method}", layer)
        try:
            out = orig(self, *args, **kwargs)
        except BaseException as e:
            s.attrs["raised"] = True
            if method in COLLECTS:
                s.attrs["abort"] = type(e).__name__
            raise
        finally:
            tracer.close(s)
        if method == "toArrow":
            s.attrs["bytes"] = out.nbytes
        return out

    action.__name__ = method
    tracer.replace(cls, method, action)


def _arg(args, kwargs, pos: int, name: str):
    return args[pos] if len(args) > pos else kwargs.get(name)


def _csv_read(span, args, kwargs, _out) -> None:
    span.attrs["path"] = _arg(args, kwargs, 1, "path")


def _csv_written(span, args, kwargs, _out) -> None:
    span.attrs["bytes"] = dir_bytes(_arg(args, kwargs, 1, "path"))


CSV_HOOKS = {"read_csv": _csv_read, "write_csv": _csv_written}


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark reports on."""
    from pyspark.sql.classic.dataframe import DataFrame

    for mod, light in FUNCTION_LAYERS.items():
        hooks = CSV_HOOKS if mod == "sources.csv_io" else None
        tracer.patch_functions(importlib.import_module(f"{PACKAGE}.{mod}"), mod, light, hooks)
    from databridge_etl_tools_spark.qa import QAReport
    from databridge_etl_tools_spark.sources.table_store import TableStore

    tracer.patch_methods(TableStore, "sources.table_store", TABLE_STORE_METHODS)
    tracer.patch_methods(QAReport, "qa", QA_METHODS)
    for m in EAGER:
        _wrap_eager(tracer, DataFrame, m)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---------------------------------------------------------------------
# per-pass folding
# ---------------------------------------------------------------------

def pass_metrics(tracer: Tracer, root: int, jobs: dict[int, dict], cores: int) -> dict[str, float]:
    """The per-layer numbers of one traced pass rooted at span ``root``."""
    sp = tracer.spans
    idx = descendants(sp, root)
    selfs = self_times(sp)

    def top(pred) -> list[int]:
        return outermost(sp, idx, pred)

    def secs(ids) -> float:
        return sum(sp[i].dur for i in ids)

    def njobs(ids) -> int:
        return sum(sp[i].job1 - sp[i].job0 for i in ids if sp[i].job0 is not None)

    def layer(name):
        return top(lambda s: s.layer == name)

    m: dict[str, float] = {}
    construct, execute = layer("registry.construct"), layer("registry.execute")
    m["registry.construct_s"] = secs(construct)
    m["registry.construct_jobs"] = njobs(construct)
    m["registry.execute_s"] = secs(execute)
    m["registry.execute_jobs"] = njobs(execute)
    m["plans.pipelines.s"] = secs(layer("plans.pipelines"))

    csv_all = [i for i in idx if sp[i].layer == "sources.csv_io"]
    reads = [i for i in csv_all if sp[i].name.endswith(".read_csv")]
    files = {sp[i].attrs.get("path") for i in reads}
    m["sources.csv_io.read_s"] = secs(top(lambda s: s.name == "sources.csv_io.read_csv"))
    m["sources.csv_io.reads"] = len(reads)
    m["sources.csv_io.reads_per_file"] = len(reads) / len(files) if files else 0.0
    writes = top(lambda s: s.name == "sources.csv_io.write_csv")
    m["sources.csv_io.write_s"] = secs(writes)
    m["sources.csv_io.bytes_written"] = sum(sp[i].attrs.get("bytes", 0) for i in writes)

    ts_writes = top(
        lambda s: s.layer == "sources.table_store" and s.name.rsplit(".", 1)[-1] in TABLE_STORE_WRITES
    )
    m["sources.table_store.write_s"] = secs(ts_writes)
    m["sources.table_store.write_jobs"] = njobs(ts_writes)
    m["sources.table_store.s"] = secs(layer("sources.table_store"))

    q = layer("qa")
    m["qa.s"], m["qa.jobs"] = secs(q), njobs(q)
    m["operators.merge.s"] = secs(layer("operators.merge"))
    mat = layer("operators.materialize")
    m["operators.materialize.calls"] = len(mat)
    m["operators.materialize.s"] = secs(mat)
    m["spark.eager_actions"] = len(top(lambda s: s.layer in EAGER_LAYERS))

    col = layer("driver.collect")
    m["driver.collect_calls"] = len(col)
    m["driver.collect_bytes"] = sum(sp[i].attrs.get("bytes", 0) for i in col)
    m["driver.collect_s"] = secs(col)
    m["driver.collect_aborts"] = sum(1 for i in col if "abort" in sp[i].attrs)
    for name in ROUTE_LAYERS:
        m[f"{name}.s"] = secs(layer(name))
    for name in ("functions.geometry", "functions.geoproj"):
        m[f"{name}.calls"] = len(layer(name))

    r = sp[root]
    pass_jobs = range(r.job0, r.job1)
    for k in JOB_COUNTERS:
        m[f"spark.{k}"] = sum(jobs[j][k] for j in pass_jobs)
    m["spark.jobs"] = len(pass_jobs)
    m["spark.core_busy_ratio"] = m["spark.executor_run_s"] / (r.dur * cores)
    m["codegen.compiles"] = r.cg1[0] - r.cg0[0]
    m["codegen.compile_s"] = (r.cg1[1] - r.cg0[1]) / 1e9
    for name in SELF_TIMED:
        m[f"{name}.self_s"] = sum(selfs[i] for i in idx if sp[i].layer == name)
    m["trace.pass_s"] = r.dur
    return m


def fold(per_pass: list[dict[str, float]]) -> dict[str, float]:
    """Median of each metric over the traced passes."""
    return {k: median(p[k] for p in per_pass) for k in per_pass[0]}
