"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_roundtrip --seed 1 --seconds 10 --trace 0

One run, from the root of a checkout: generate the workload's inputs
from ``--seed`` into run-private scratch, start Spark on ``local[4]``,
build layouts, warm up, time whole passes (at least two and at
least ``--seconds``), check the outputs once, then print one JSON object
as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` wraps the package's layer entry points, reports the
per-layer metrics, and writes every span to ``perfbench/out/``.
The exit code is 0 only when every operation and output check passed.
"""

from __future__ import annotations

import os
import sys
import time

if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    # string hashing, and with it every set and dict order the package
    # builds plans from, is the same in every run; exec keeps the process
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable, *sys.argv])

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
WARMUP_PASSES = 1
# passes are still getting faster after four (the JIT), so one timed pass
# after the warm-up lands anywhere on that slope; two are what the run
# time budget affords (a pass takes 6-9 s on routes, 10-15 s on etl)
MIN_TIMED_PASSES = 2

#: the end-to-end metrics an untraced run prints, with their units
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "py_peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}


class Tally:
    """Operations attempted and failed; a raising operation is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn, *args):
        """Call ``fn``; on an exception record the failure and return None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # the run goes on; the failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, name: str, fn) -> None:
        """An output check fails when it raises or returns an error."""
        err = self.run(name, fn)
        if err is not None:
            self.failed += 1
            self.errors.append(f"{name}: {err}")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def private_scratch(workload: str, seed: int) -> str:
    """Every file Spark, the layouts and the store write goes here, and
    the directory is removed when the run ends: each run pays the same
    set-up cost and leaves nothing behind."""
    scratch = os.path.join(HERE, ".run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    for d in (tmp, os.path.join(scratch, "local"), os.path.join(scratch, "warehouse")):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVM spark-submit starts to assemble the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={scratch}/warehouse",
            f"--conf spark.local.dir={scratch}/local",
            # keep every job of a run in the status store for the trace
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            # no hsperfdata file under the system /tmp
            f"--driver-java-options '-Dderby.system.home={scratch} -Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )
    return scratch


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway started, and wait."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def run_pass(wl, tracer, tally, results) -> tuple[int, dict[str, float]]:
    """One pass over the workload's operations. Returns the pass span's
    index and each operation's wall time."""
    wl.begin_pass()
    ops = wl.ops()
    times = {}
    with tracer.span("pass", codegen=True):
        root = len(tracer.spans) - 1
        for op in ops:
            with tracer.span(f"op.{op.name}", "op") as s:
                out = tally.run(op.name, op.fn, tracer)
            times[op.name] = s.dur
            if out is not None:
                results[op.name] = out
    return root, times


def traced_metrics(tracer, wl, timed, warm, untraced_s: float, op_s: dict) -> tuple[dict, dict]:
    """Per-layer metrics: the median over traced passes of each layer's
    numbers, plus the set-up spans and the tracing overhead."""
    import layers

    sp = tracer.spans
    jobs = tracer.job_metrics(range(sp[timed[0][0]].job0, sp[timed[-1][0]].job1))
    m = layers.fold([layers.pass_metrics(tracer, r, jobs, CORES) for r, _ in timed])
    setup = {s.name: s.dur for s in sp if s.parent is None}
    m["session.start_s"] = setup["session.start"]
    m["layout.build_s"] = setup["layout.build"]
    m["codegen.max_source_bytes"] = tracer.max_source_bytes()
    m["codegen.warmup_compiles"] = warm.cg1[0] - warm.cg0[0]
    m["codegen.warmup_compile_s"] = (warm.cg1[1] - warm.cg0[1]) / 1e9
    m["sources.table_store.bytes_on_disk"], m["sources.table_store.versions"] = wl.table_store_usage()
    m["trace.overhead_s"] = m["trace.pass_s"] - untraced_s
    for g in layers.OP_GROUPS:
        m[f"ops.{g}_s"] = op_s.get(g, 0.0)
    return m, jobs


def write_trace(tracer, jobs: dict, path: str, head: dict) -> None:
    """Every span of the run with its self time and, where it launched
    Spark jobs, their summed counters."""
    from spans import self_times

    out = []
    for i, (s, own) in enumerate(zip(tracer.spans, self_times(tracer.spans))):
        d = {
            "i": i,
            "name": s.name,
            "layer": s.layer,
            "parent": s.parent,
            "start_s": s.t0 - T_START,
            "end_s": s.t1 - T_START,
            "self_s": own,
            **s.attrs,
        }
        if s.job0 is not None:
            ids = range(s.job0, s.job1)
            d["jobs"] = len(ids)
            for k in ("stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "executor_run_s"):
                d[k] = sum(jobs[j][k] for j in ids if j in jobs)
        out.append(d)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({**head, "spans": out}, f, indent=0)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the program under test; a checkout without it fails here
    import databridge_etl_tools_spark  # noqa: F401

    import layers
    from spans import Tracer, median
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    scratch = private_scratch(args.workload, args.seed)
    tracer, tally, results = Tracer(), Tally(), {}
    spark = None
    try:
        with tracer.span("inputs"):
            wl = WORKLOADS[args.workload](scratch, args.seed)
        with tracer.span("session.start"):
            from databridge_etl_tools_spark.session import get_session

            spark = get_session("perfbench", cpus=CORES)
            spark.sparkContext.setCheckpointDir(os.path.join(scratch, "checkpoints"))
        if args.trace:
            tracer.attach(spark)
        wl.setup(spark)
        with tracer.span("layout.build"):
            wl.build_layouts()
        with tracer.span("warmup", codegen=bool(args.trace)) as warm:
            for _ in range(WARMUP_PASSES):
                run_pass(wl, tracer, tally, results)
        setup_s = time.perf_counter() - T_START

        # a traced run brackets its traced passes with untraced ones, so
        # the tracing overhead is measured at the same warmth
        untraced = [run_pass(wl, tracer, tally, results)] if args.trace else []
        timed = []
        t0 = time.perf_counter()
        while len(timed) < MIN_TIMED_PASSES or time.perf_counter() - t0 < args.seconds:
            if args.trace:
                layers.install(tracer)
            try:
                timed.append(run_pass(wl, tracer, tally, results))
            finally:
                tracer.restore()
        if args.trace:
            untraced.append(run_pass(wl, tracer, tally, results))
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        stored = wl.stored_bytes() / wl.input_bytes

        groups = {op.name: op.group for op in wl.ops()}
        op_s = {
            g: median(sum(t for n, t in times.items() if groups[n] == g) for _, times in timed)
            for g in sorted(set(groups.values()))
        }
        pass_times = [tracer.spans[r].dur for r, _ in timed]
        if args.trace:
            untraced_s = median(tracer.spans[r].dur for r, _ in untraced)
            per_layer, jobs = traced_metrics(tracer, wl, timed, warm, untraced_s, op_s)
            metrics = {k: (per_layer[k], u) for k, u in layers.PER_LAYER.items()}
            head = {"workload": args.workload, "seed": args.seed}
            write_trace(tracer, jobs, os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"), head)
        else:
            values = {
                "setup_s": setup_s,
                "pass_s": median(pass_times),
                "py_peak_rss_mb": rss_mb,
                "stored_bytes_per_input_byte": stored,
            }
            metrics = {k: (values[k], u) for k, u in END_TO_END.items()}

        for c in wl.checks(results):
            tally.check(c.name, c.fn)
    finally:
        stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):  # the last run leaves no .run/
            os.rmdir(os.path.dirname(scratch))

    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "timed_pass_s": pass_times,
        "op_median_s": op_s,
        "errors": tally.errors,
    }
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
