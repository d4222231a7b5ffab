#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload per run.

    python3 perfbench/run.py --workload bi_scan --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed`` (cached under ``.perfbench_data/``), starts one local Spark
session on every core, sets the workload up, checks results against
DuckDB in an untimed warm-up pass and then drives the workload as a
closed loop with one client: whole passes of operations until
``--seconds`` have passed (at least one pass).  It prints a report,
then one JSON line with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``).  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
import procmem
import stats

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "dbx_workspace_and_emr_iceberg_spark"

E2E_METRICS = {"setup_s": "s", "ops_per_min": "1/min"}
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.exchanges": "count",
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_write_bytes": "B",
    "session.shuffle_read_bytes": "B",
    "session.spill_bytes": "B",
    "session.input_bytes": "B",
    "session.scan_files": "count",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "operators.python_eval_s": "s",
    "operators.python_rows": "count",
    "operators.python_nodes": "count",
    "engine.sql_s": "s",
    "engine.refresh_view_s": "s",
    "sources.sql_dml.execute_self_s": "s",
    "sources.lakehouse.delete_s": "s",
    "sources.lakehouse.update_s": "s",
    "sources.lakehouse.merge_s": "s",
    "sources.lakehouse.append_s": "s",
    "sources.lakehouse.read_s": "s",
    "sources.lakehouse.files_live": "count",
    "sources.lakehouse.files_added": "count",
    "sources.lakehouse.files_removed": "count",
    "sources.lakehouse.bytes_written": "B",
    "sources.lakehouse.snapshots": "count",
    "sources.lakehouse.commit_conflicts": "count",
    "sources.lakehouse.files_kept_ratio": "ratio",
    "sources.lakehouse.rows_scanned_per_row_returned": "ratio",
    "sources.rest_catalog.load_table_s": "s",
    "sources.rest_catalog.requests": "count",
    "dml.write_p50_s": "s",
    "dml.read_p50_s": "s",
    "dml.write_bytes_per_row": "B/row",
    "process.rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}
#: Span names whose self time feeds a per-layer metric.
SELF_TIME_METRICS = {
    "engine.sql_s": ["engine.sql"],
    "engine.refresh_view_s": ["engine.refresh_view"],
    "sources.sql_dml.execute_self_s": ["sources.sql_dml.execute"],
    "sources.lakehouse.delete_s": ["sources.lakehouse.delete_where"],
    "sources.lakehouse.update_s": ["sources.lakehouse.update_set"],
    "sources.lakehouse.merge_s": ["sources.lakehouse.merge_into"],
    "sources.lakehouse.append_s": ["sources.lakehouse.append"],
    "sources.lakehouse.read_s": ["sources.lakehouse.read", "sources.lakehouse.read_range"],
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Env:
    """Run-wide state handed to the workloads."""

    def __init__(self, seed: int, work: str, ds: str, tracer) -> None:
        self.seed, self.work, self.ds = seed, work, ds
        self.tracer = tracer  # None in end-to-end runs
        self.spark = None
        self.rest = None
        self.log = log
        #: job groups the current traced operation used
        self.op_groups: set[str] = set()
        self.counting_bytes = False
        self.lake = dict.fromkeys(
            ("files_added", "files_removed", "bytes_written", "snapshots", "files_live"), 0.0
        )
        self.range_reads: list[tuple[int, int, int, int]] = []
        self.conflicts = 0

    @property
    def tracing(self) -> bool:
        """True only while a traced operation runs (and is checked)."""
        return self.tracer is not None and self.tracer.enabled

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else nullcontext()

    def group(self, group: str) -> None:
        if self.tracing:
            self.spark.sparkContext.setJobGroup(group, group)
            self.op_groups.add(group)

    def lake_commit(self, added, removed, nbytes, committed, live) -> None:
        if self.tracing:
            self.lake["files_added"] += added
            self.lake["files_removed"] += removed
            self.lake["bytes_written"] += nbytes
            self.lake["snapshots"] += committed
            self.lake["files_live"] = live

    def lake_range_read(self, kept, live, scanned, returned) -> None:
        if self.tracing:
            self.range_reads.append((kept, live, scanned, returned))


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        # bench.py's multi-file layout setting: one scan task per slice
        "spark.sql.files.openCostInBytes": str(128 * 1024 * 1024),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return conf


def install_wrappers(tracer, env) -> None:
    from dbx_workspace_and_emr_iceberg_spark import engine
    from dbx_workspace_and_emr_iceberg_spark.sources import lakehouse, rest_catalog, sql_dml

    def conflict(e):
        if env.tracing and isinstance(e, lakehouse.ConflictError):
            env.conflicts += 1

    tracer.wrap(engine.Engine, "sql", "engine.sql")
    tracer.wrap(engine.Engine, "refresh_view", "engine.refresh_view")
    tracer.wrap(sql_dml, "execute", "sources.sql_dml.execute")
    for m in ("delete_where", "update_set", "merge_into", "read"):
        tracer.wrap(lakehouse.LakehouseTable, m, f"sources.lakehouse.{m}")
    for m in ("append", "append_positional"):
        tracer.wrap(lakehouse.LakehouseTable, m, "sources.lakehouse.append")
    tracer.wrap(lakehouse.StatsLakehouseTable, "read_range", "sources.lakehouse.read_range")
    # the commit and HTTP boundaries: conflicts and requests are counted there
    tracer.wrap(lakehouse.LakehouseTable, "_commit", "sources.lakehouse.commit", on_error=conflict)
    tracer.wrap(rest_catalog.RestLakehouseCatalog, "table", "sources.rest_catalog.load_table")
    tracer.wrap(rest_catalog.RestCatalogClient, "_request", "sources.rest_catalog.request")


class Window:
    """Outcome of one closed-loop window."""

    def __init__(self) -> None:
        self.attempted = self.failed = self.wrong = self.passes = 0
        #: (op id, kind, traced, seconds) of every operation that returned
        self.timeline: list[tuple[str, str, bool, float]] = []
        #: REST counters summed over the traced operations
        self.counters: dict[str, float] = {}

    def lat(self, kind: str | None = None, traced: bool = False) -> list[float]:
        """Latencies of the untraced (or traced) operations, of one
        ``kind`` ("read" | "write") or of all."""
        return [dt for _, k, t, dt in self.timeline if t == traced and kind in (None, k)]

    def ops_per_min(self, traced: bool = False) -> float:
        lat = self.lat(traced=traced)
        return 60.0 * len(lat) / sum(lat) if lat else 0.0


def run_op(env, op, w: Window, traced: bool = False) -> None:
    w.attempted += 1
    if env.tracer is not None:
        env.tracer.enabled = False
    if op.prepare:
        op.prepare()
    if traced:
        env.tracer.enabled = True
        env.tracer.op, env.op_groups = op.id, set()
    try:
        start = time.perf_counter()
        with env.span("op"):
            res = op.run()
        dt = time.perf_counter() - start
    except Exception:
        w.failed += 1
        log(f"FAILED {op.id}:\n{traceback.format_exc()}")
        return
    finally:
        if traced:
            env.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    w.timeline.append((op.id, op.kind, traced, dt))
    if op.check and not op.check(res):
        w.wrong += 1
        log(f"WRONG RESULT {op.id}")
    if traced:
        # REST reads happen after the operation's clock stopped
        for g, c in env.rest.group_counters(env.op_groups).items():
            for k, v in c.items():
                w.counters[k] = w.counters.get(k, 0.0) + v
            if g.endswith(":build"):
                w.counters["eager_jobs"] = w.counters.get("eager_jobs", 0.0) + c["jobs"]
        if op.observe:
            op.observe(res)


def run_window(env, wl, passes, seconds, max_passes=None, trace=None) -> Window:
    """Closed loop, one client: exactly ``max_passes`` whole passes, or
    without it whole passes until ``seconds`` have passed and at least
    ``wl.min_passes`` ran.  ``trace(pass, op index)`` picks the
    operations to trace.  The workload's written-bytes tally covers the
    first ``wl.min_passes`` passes."""
    w = Window()
    t0 = time.perf_counter()
    for ops in passes:
        env.counting_bytes = w.passes < wl.min_passes
        for i, op in enumerate(ops):
            run_op(env, op, w, traced=trace is not None and trace(w.passes, i))
        w.passes += 1
        if max_passes is not None:
            if w.passes >= max_passes:
                break
        elif w.passes >= wl.min_passes and time.perf_counter() - t0 >= seconds:
            break
    env.counting_bytes = False
    if env.tracer is not None:
        env.tracer.enabled = False
    return w


def e2e_metrics(setup_s, w: Window) -> dict[str, float]:
    return {"setup_s": setup_s, "ops_per_min": w.ops_per_min()}


def layer_metrics(env, wl, w: Window, get_spark_s, peak_rss) -> dict[str, float]:
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    c = w.counters
    for k in (
        "jobs", "stages", "tasks", "exchanges", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes", "scan_files",
    ):
        out[f"session.{k}"] = c.get(k, 0.0)
    out["session.get_spark_s"] = get_spark_s
    out["queries.eager_jobs"] = c.get("eager_jobs", 0.0)
    out["queries.build_s"] = sum(env.tracer.durations("queries.build"))
    for k in ("python_eval_s", "python_rows", "python_nodes"):
        out[f"operators.{k}"] = c.get(k, 0.0)
    self_t = env.tracer.self_times()
    for metric, spans in SELF_TIME_METRICS.items():
        out[metric] = sum(self_t.get(s, 0.0) for s in spans)
    for k, v in env.lake.items():
        out[f"sources.lakehouse.{k}"] = v
    out["sources.lakehouse.commit_conflicts"] = float(env.conflicts)
    if env.range_reads:
        out["sources.lakehouse.files_kept_ratio"] = float(
            np.median([kept / live for kept, live, _, _ in env.range_reads])
        )
        returned = sum(r for *_, r in env.range_reads)
        out["sources.lakehouse.rows_scanned_per_row_returned"] = (
            sum(s for _, _, s, _ in env.range_reads) / returned if returned else 0.0
        )
    out["sources.rest_catalog.load_table_s"] = sum(env.tracer.durations("sources.rest_catalog.load_table"))
    out["sources.rest_catalog.requests"] = float(len(env.tracer.durations("sources.rest_catalog.request")))
    for k, v in wl.report(w).items():
        if f"dml.{k}" in out:
            out[f"dml.{k}"] = v
    out["process.rss_mb"] = peak_rss / 2**20
    if w.ops_per_min(traced=False):
        out["trace.overhead_frac"] = 1.0 - w.ops_per_min(traced=True) / w.ops_per_min(traced=False)
    return out


def report_lines(wl, w: Window, phases, wrong, peak_rss, metrics) -> list[str]:
    lines = [f"workload {wl.name}: {w.passes} pass(es), {len(w.timeline)} ops timed"]
    lines += [
        f"  op {op_id:40s} {dt:10.4f} s{'  traced' if t else ''}" for op_id, _, t, dt in w.timeline
    ]
    extra = {**phases, "peak_rss_mb": peak_rss / 2**20}
    extra.update(stats.latency_summary("op", w.lat()))
    reads = w.lat("read")
    extra.update(stats.latency_summary("query", reads))
    if reads:
        # every operation weighs the same in relative terms
        extra["query_gmean_s"] = statistics.geometric_mean(reads)
    extra.update(wl.report(w))
    extra["failed_frac"] = w.failed / w.attempted if w.attempted else 0.0
    extra["wrong_results"] = float(wrong)
    units = {**E2E_METRICS, **LAYER_METRICS, "peak_rss_mb": "MB", "write_bytes_per_row": "B/row"}
    for k, v in {**metrics, **extra}.items():
        unit = units.get(k, "s" if k.endswith("_s") else ("ratio" if k.endswith("frac") else "count"))
        lines.append(f"  {k:48s} {v:16.6f} {unit}")
    return lines


def shutdown_spark() -> None:
    """Stop the session, the py4j gateway JVM and its Python workers,
    and wait until every process this run started has ended."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession() or getattr(SparkSession, "_instantiatedSession", None)
        if s is not None:
            s.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
    except ImportError:
        pass
    deadline = time.monotonic() + 15
    while procmem.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procmem.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in procmem.descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def prepare_environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no /tmp/hsperfdata; JVM temp files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def drive(args, env, wl, mem, inputs_s):
    """Set up, warm up and run one window.  ``inputs_s`` is the time
    already spent generating inputs, which set-up does not count."""
    from dbx_workspace_and_emr_iceberg_spark.session import get_spark

    traced = args.trace == 1
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    env.spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=cpus, extra_conf=spark_conf(env.work, traced))
    get_spark_s = time.perf_counter() - t0
    env.spark.sparkContext.setLogLevel("ERROR")
    wl.setup(env)
    log(f"set-up: get_spark {get_spark_s:.3f} s, inputs registered {time.perf_counter() - t0:.3f} s")
    checked, wrong, check_s = wl.warmup(env)
    log(f"warm-up/correctness: {checked} checked, {wrong} wrong ({check_s:.3f} s in DuckDB checks)")
    passes = wl.passes(env)
    # process start to the first timed operation, less the benchmark's
    # own work: input generation and the DuckDB checks of the warm-up
    setup_s = time.perf_counter() - T_START - inputs_s - check_s
    phases = {"get_spark_s": get_spark_s, "inputs_s": inputs_s, "warmup_check_s": check_s}
    mem.reset()
    if not traced:
        w = run_window(env, wl, passes, args.seconds)
        peak = mem.peak
        metrics = e2e_metrics(setup_s, w)
    else:
        # one fixed-size window in which traced and untraced operations
        # alternate (wl.traced), so drift between passes falls on both
        # sides of trace.overhead_frac; the traced operations' counters
        # repeat exactly at one seed
        from rest import SparkRest

        env.rest = SparkRest(env.spark.sparkContext)
        install_wrappers(env.tracer, env)
        w = run_window(env, wl, passes, 0, wl.trace_passes, trace=wl.traced)
        env.tracer.unwrap_all()
        peak = mem.peak
        metrics = layer_metrics(env, wl, w, get_spark_s, peak)
    wrong += w.wrong + wl.finish(env)
    for line in report_lines(wl, w, {"setup_s": setup_s, **phases}, wrong, peak, metrics):
        print(line)
    units = LAYER_METRICS if traced else E2E_METRICS
    return {
        "correct": wrong == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


#: Seeds kept in the input cache (about 22 MB each).
CACHE_KEEP = 12


def prune_cache(data: str, keep: str) -> None:
    """Mark ``keep`` as just used and delete all but the CACHE_KEEP most
    recently used datasets."""
    os.utime(keep)
    dirs = sorted(
        (os.path.join(data, d) for d in os.listdir(data)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "sim_compare.py")
    ):
        log(f"{ROOT} does not hold the engine ({PKG}/ and tools/); run from a full checkout")
        return 2
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads


    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare_environment(work)
    import gen
    from spans import Tracer

    t0 = time.perf_counter()
    data = os.path.join(ROOT, ".perfbench_data")
    os.makedirs(data, exist_ok=True)
    ds = gen.write_dataset(args.seed, data)
    prune_cache(data, keep=ds)
    inputs_s = time.perf_counter() - t0
    tracer = Tracer() if args.trace else None
    env = Env(args.seed, work, ds, tracer)
    wl = workloads.make(args.workload)
    result = None
    try:
        with procmem.PeakRss() as mem:
            result = drive(args, env, wl, mem, inputs_s)
        if tracer is not None:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json"))
    except Exception:
        log(f"run failed:\n{traceback.format_exc()}")
    finally:
        wl.close()
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
