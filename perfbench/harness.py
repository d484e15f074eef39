"""Benchmark harness: one workload, one process, one Spark session.

Sequence of a run (closed loop, one client — passes run back to back):

1. set-up, timed as ``setup_s``: Spark session start; the workload's
   one-off start (Postgres server and schema); input preparation repeated
   ``SETUP_REPS`` times (generate from the seed, load, compute the
   expected output in DuckDB) with the median counted; the warm-up pass,
   whose time is also reported as ``setup.cold_pass_s``;
2. timed passes while fewer than ``--seconds`` have elapsed (at least
   ``MIN_PASSES``).
   Before each pass, outside the timing: the workload resets its sink,
   the JVM and Python collect garbage, and counters are marked. After
   each pass: Spark is let go idle, counters are read, then the output is
   checked. A pass that raises or fails its check counts as failed.

With ``--trace 1`` untraced and traced passes alternate, starting and
ending untraced, so that the traced pass sits mid-way on the warm-up
slope; the per-layer metrics come from the traced passes, and
``trace.overhead_s`` is the median traced pass minus the median untraced
pass.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import counters as C
from . import workloads as W
from .trace import Tracer

SETUP_REPS = 3
MIN_PASSES = 1  # timed passes; a traced run needs untraced-traced-untraced

SIZES = {
    "full": {
        "subset_chain_parquet": dict(customers=150_000, orders_per_customer=1,
                                     lines_per_order=2),
        "pg_upsert_copy": dict(users=2_000),
    },
    "tiny": {
        "subset_chain_parquet": dict(customers=600, orders_per_customer=1,
                                     lines_per_order=2),
        "pg_upsert_copy": dict(users=200),
    },
}
WORKLOADS = {
    "subset_chain_parquet": W.SubsetChainParquet,
    "pg_upsert_copy": W.PgUpsertCopy,
}

END_TO_END = {
    "pass_s": "s", "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
    "source_scans": "count", "out_bytes_per_row": "bytes",
}
PER_LAYER = {
    "session.start_s": "s", "setup.cold_pass_s": "s",
    "source.rows_read": "count", "source.scan_ms": "ms", "source.read_s": "s",
    "pg.source_scans": "count", "pg.source_rows_read": "count",
    "propagation.s": "s", "propagation.jobs": "count",
    "closure.s": "s", "closure.jobs": "count",
    "copier.plan_s": "s", "copier.jobs": "count",
    "copier.sql_executions": "count", "copier.idle_s": "s",
    "compiler.apply_spec_s": "s", "exec.plan_ms": "ms",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "sink.write_s": "s", "sink.count_s": "s", "sink.rows": "count",
    "sink.bytes": "bytes", "sink.files": "count", "sink.rereads": "count",
    "pg.statements": "count", "pg.xacts": "count",
    "pg.rows_inserted": "count", "pg.rows_updated": "count",
    "pg.statements_per_row": "ratio",
    "trace.overhead_s": "s", "failed_pass_ratio": "ratio",
}


@dataclass
class Pass:
    seconds: float
    traced: bool
    errors: list[str]
    end_to_end: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def start_spark(work: str, nproc: int):
    """The engine's session defaults (``simple_anonymizer_spark.session``)
    with every scratch path inside the work directory."""
    from pyspark.sql import SparkSession

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{nproc}]")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    # A later session in this process (the self-tests) needs a new gateway.
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _ms(t: float) -> int:
    return int(t * 1000)


def _union_s(spans) -> float:
    return C.busy_ms([(_ms(s.start), math.ceil(s.end * 1000)) for s in spans],
                     0, 2 ** 62) / 1000.0


def _jobs_in(spans, jobs: list[tuple[int, int]]) -> int:
    windows = [(math.floor(s.start * 1000), math.ceil(s.end * 1000)) for s in spans]
    return sum(1 for sub, _ in jobs if any(lo <= sub <= hi for lo, hi in windows))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, scale: str = "full", after_pass=None,
                 min_passes: int | None = None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.scale = scale
        self.after_pass = after_pass  # test hook: called on each pass output
        self.min_passes = min_passes or (3 if trace else MIN_PASSES)
        self.nproc = len(os.sched_getaffinity(0))
        self.passes: list[Pass] = []
        self.tracer = Tracer(f"{workload}-{seed}")
        self.spark = None
        self.wl = None

    def run(self) -> dict:
        try:
            self._open()
            cold = self._one_pass(traced=False)
            self.passes.append(cold)
            setup_s = self.setup_s + cold.seconds
            t_measure = time.perf_counter()
            while (len(self.passes) <= self.min_passes
                   or time.perf_counter() - t_measure < self.seconds):
                traced = self.trace and len(self.passes) % 2 == 0
                self.passes.append(self._one_pass(traced))
            return self._result(setup_s, cold.seconds)
        finally:
            self._close()

    def _open(self) -> None:
        """Set-up up to the warm-up pass; ``self.setup_s`` is its time."""
        t0 = time.perf_counter()
        self.spark = start_spark(self.work, self.nproc)
        self.session_start_s = time.perf_counter() - t0
        cls = WORKLOADS[self.workload]
        sizes = SIZES[self.scale][self.workload]
        self.wl = cls(self.spark, self.work, self.seed, sizes, self.nproc)
        self.counters = C.SparkCounters(self.spark)
        t0 = time.perf_counter()
        self.wl.start()
        start_s = time.perf_counter() - t0
        prep = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.wl.prepare()
            prep.append(time.perf_counter() - t0)
        self.setup_s = self.session_start_s + start_s + statistics.median(prep)
        log(f"session {self.session_start_s:.2f}s, start {start_s:.2f}s, "
            f"prepare {', '.join(f'{t:.2f}' for t in prep)}s")

    def _close(self) -> None:
        try:
            if self.wl is not None:
                self.wl.close()
        finally:
            if self.spark is not None:
                stop_spark(self.spark)

    def _wait_idle(self, timeout_s: float = 60.0) -> None:
        """Let stages a pass left behind (adaptive execution does not wait
        for every shuffle stage it started) finish before counters are read."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.monotonic() + timeout_s
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)

    def _between_passes(self) -> None:
        self.wl.reset()
        self.spark._jvm.System.gc()
        gc.collect()

    def _one_pass(self, traced: bool) -> Pass:
        wl = self.wl
        self._between_passes()
        pg_before = None
        if wl.pg_counters is not None:
            pg_before = wl.pg_counters.read()
            wl.pg_counters.reset_statements()
        mark = self.counters.mark()
        tracer = self.tracer if traced else None
        if tracer is not None:
            from pyspark.sql.readwriter import DataFrameWriter
            tracer.patch(DataFrameWriter, "parquet", "sink.write")
            tracer.patch(W, "write_jdbc", "sink.write")
        result, errors = None, []
        t0, p0 = time.time(), time.perf_counter()
        try:
            if tracer is not None:
                with tracer.root("pass") as pass_span:
                    result = wl.run_pass(tracer)
            else:
                result = wl.run_pass(None)
        except Exception:
            errors.append("pass raised: " + traceback.format_exc(limit=3))
        seconds = time.perf_counter() - p0
        t1 = time.time()
        if tracer is not None:
            tracer.restore()
        self._wait_idle()
        wl.finish_pass()
        sc = self.counters.pass_counters(mark, getattr(wl, "input_dir", None),
                                         getattr(wl, "output_dir", None))
        pg = None
        if pg_before is not None:
            pg = C.PgCounters.delta(pg_before, wl.pg_counters.read())
        if result is not None:
            if self.after_pass is not None:
                self.after_pass(wl)
            try:
                errors += wl.check(result)
            except Exception:
                errors.append("check raised: " + traceback.format_exc(limit=3))
        p = Pass(seconds, traced, errors)
        log(f"pass {len(self.passes)} {'traced ' if traced else ''}"
            f"{seconds:.2f}s{' FAILED: ' + repr(errors) if errors else ''}")
        if errors:
            return p
        rows = sum(result.values())
        if pg is not None:
            out_bytes, out_files = pg["wal_bytes"], 0
            scans = pg["source_scans"]
        else:
            out_bytes, out_files = wl.out_bytes()
            scans = sc["source_scans"]
        p.end_to_end = {"source_scans": scans, "out_bytes_per_row": out_bytes / rows}
        if tracer is not None:
            p.layers = self._layers(tracer, pass_span, sc, pg, rows, out_bytes,
                                    out_files, t0, t1)
        return p

    def _layers(self, tracer: Tracer, pass_span, sc: dict, pg: dict | None,
                rows: int, out_bytes: int, out_files: int, t0: float,
                t1: float) -> dict:
        within = lambda name: tracer.named(name, pass_span)  # noqa: E731
        jobs = sc["job_intervals"]
        run = within("copier.run")
        blocking = within("propagation") + within("compiler.apply_spec") \
            + within("sink.write_table")
        tables = within("sink.write_table")
        pg = pg or {}
        return {
            "source.rows_read": sc["source_rows"] + sc["python_scan_rows"],
            "source.scan_ms": sc["source_scan_ms"],
            "source.read_s": sum(s.dur for s in within("source.read_table")),
            "pg.source_scans": pg.get("source_scans", 0),
            "pg.source_rows_read": pg.get("source_rows", 0),
            "propagation.s": sum(s.dur for s in within("propagation")),
            "propagation.jobs": _jobs_in(within("propagation"), jobs),
            "closure.s": sum(s.dur for s in within("closure")),
            "closure.jobs": _jobs_in(within("closure"), jobs),
            "copier.plan_s": sum(s.dur for s in run) - _union_s(blocking),
            "copier.jobs": sc["jobs"],
            "copier.sql_executions": sc["sql_executions"],
            "copier.idle_s": (t1 - t0) - C.busy_ms(jobs, _ms(t0), _ms(t1)) / 1000.0,
            "compiler.apply_spec_s": sum(s.dur for s in within("compiler.apply_spec")),
            "exec.plan_ms": sc["plan_ms"],
            "exec.run_s": sc["run_s"],
            "exec.cpu_s": sc["cpu_s"],
            "exec.gc_s": sc["gc_s"],
            "exec.tasks": sc["tasks"],
            "exec.shuffle_write_bytes": sc["shuffle_write_bytes"],
            "exec.spill_bytes": sc["spill_bytes"],
            "sink.write_s": sum(s.dur for s in within("sink.write")),
            "sink.count_s": sum(tracer.self_time(s) for s in tables),
            "sink.rows": rows,
            "sink.bytes": out_bytes,
            "sink.files": out_files,
            "sink.rereads": sc["output_rereads"],
            "pg.statements": pg.get("statements", 0),
            "pg.xacts": pg.get("xacts", 0),
            "pg.rows_inserted": pg.get("rows_inserted", 0),
            "pg.rows_updated": pg.get("rows_updated", 0),
            "pg.statements_per_row": pg.get("statements", 0) / rows,
        }

    def _result(self, setup_s: float, cold_s: float) -> dict:
        failed = sum(1 for p in self.passes if p.errors)
        good = [p for p in self.passes[1:] if not p.errors]
        plain = [p for p in good if not p.traced]
        traced = [p for p in good if p.traced]
        if not plain or (self.trace and not traced):
            raise RuntimeError("no timed pass succeeded")
        pass_s = statistics.median(p.seconds for p in plain)
        if self.trace:
            metrics = {
                name: statistics.median(p.layers[name] for p in traced)
                for name in PER_LAYER
                if name not in ("session.start_s", "setup.cold_pass_s",
                                "trace.overhead_s", "failed_pass_ratio")
            }
            metrics["session.start_s"] = self.session_start_s
            metrics["setup.cold_pass_s"] = cold_s
            metrics["trace.overhead_s"] = (
                statistics.median(p.seconds for p in traced) - pass_s)
            metrics["failed_pass_ratio"] = failed / len(self.passes)
            units = PER_LAYER
            self.tracer.dump(os.path.join(
                os.path.dirname(self.work),
                f"spans-{self.workload}-seed{self.seed}.json"))
        else:
            metrics = {
                "pass_s": pass_s,
                "rows_per_s": self.wl.source_rows / pass_s,
                "setup_s": setup_s,
                "peak_rss_mb": (vm_hwm_kb(self._jvm_pid()) + vm_hwm_kb(os.getpid()))
                / 1024.0,
                "source_scans": statistics.median(
                    p.end_to_end["source_scans"] for p in plain),
                "out_bytes_per_row": statistics.median(
                    p.end_to_end["out_bytes_per_row"] for p in plain),
            }
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": len(self.passes),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def _jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # Python workers import the engine and perfbench from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, os.environ.get("PYTHONPATH", "")])
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                      work)
        result = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0
