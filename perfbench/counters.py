"""Work counters read from outside the program.

``SparkCounters`` reads Spark's two status stores through py4j — both are
populated with ``spark.ui.enabled=false``:

* the SQL store (``sharedState().statusStore()``): one entry per SQL
  execution, with the final (adaptive) plan graph and each node's metric
  values as display strings ("1,024", "12.0 MiB", "total (...)\\n35 ms");
* the core store (``sc.statusStore()``): jobs with submission/completion
  times and stages with executor run/cpu/gc time, task counts, shuffle
  write and spill bytes.

A pass is bracketed by ``mark()`` calls; ``pass_counters`` sums everything
whose id is past the starting mark. Listener events arrive asynchronously,
so every read first drains the listener bus.

``PgCounters`` reads ``pg_stat_*`` views of the benchmark's own server.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_NUM_UNIT = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Numeric value of one SQL-store metric string: plain counts, sizes
    (to bytes) and durations (to ms). Aggregated metrics print
    ``total (min, med, max ...)\\n<total> (<min>, ...)`` — the total wins."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


def _opt_ms(opt) -> int | None:
    """Scala ``Option[java.util.Date]`` -> epoch ms."""
    return opt.get().getTime() if opt.isDefined() else None


@dataclass(frozen=True)
class Mark:
    execution: int
    job: int
    stage: int


class SparkCounters:
    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = jsc.statusStore()
        jvm = spark.sparkContext._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        self.drain()
        execs = [e.executionId() for e in self._list(self._sql.executionsList())]
        jobs = [j.jobId() for j in self._list(self._core.jobsList(None))]
        stages = [s.stageId() for s in self._stages()]
        return Mark(max(execs, default=-1), max(jobs, default=-1),
                    max(stages, default=-1))

    def _stages(self) -> list:
        return self._list(self._core.stageList(
            None, False, False, self._no_quantiles, None))

    def jobs_since(self, mark: Mark) -> list[tuple[int, int, int]]:
        """(job id, submission ms, completion ms) of jobs past ``mark``."""
        out = []
        for j in self._list(self._core.jobsList(None)):
            if j.jobId() > mark.job:
                sub = _opt_ms(j.submissionTime())
                end = _opt_ms(j.completionTime())
                if sub is not None:
                    out.append((j.jobId(), sub, end if end is not None else sub))
        return sorted(out)

    def pass_counters(self, mark: Mark, source_dir: str | None = None,
                      sink_dir: str | None = None) -> dict:
        """Counters of everything that ran after ``mark``. Scans whose file
        location lies under ``source_dir`` are source scans; under
        ``sink_dir``, re-reads of the output."""
        self.drain()
        jobs = self.jobs_since(mark)
        job_sub = {j: s for j, s, _ in jobs}
        executions = [e for e in self._list(self._sql.executionsList())
                      if e.executionId() > mark.execution]
        scans = rereads = 0
        scan_rows = scan_ms = 0.0
        py_rows = 0.0
        plan_ms = 0.0
        for e in executions:
            eid = e.executionId()
            job_ids = [int(k) for k in self._conv.asJava(e.jobs()).keySet()]
            subs = [job_sub[j] for j in job_ids if j in job_sub]
            if subs:
                plan_ms += max(0, min(subs) - e.submissionTime())
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if not name.startswith(("Scan ", "BatchScan ")):
                    continue
                metrics = {m.name(): values.get(m.accumulatorId())
                           for m in self._list(node.metrics())}
                rows = parse_metric(metrics.get("number of output rows"))
                desc = node.desc()
                if name.startswith("BatchScan ") and "Python" in desc + name:
                    py_rows += rows
                elif source_dir and source_dir in desc:
                    scans += 1
                    scan_rows += rows
                    scan_ms += parse_metric(metrics.get("scan time"))
                elif sink_dir and sink_dir in desc:
                    rereads += 1
        stages = [s for s in self._stages()
                  if s.stageId() > mark.stage and s.status().toString() == "COMPLETE"]
        return {
            "jobs": len(jobs),
            "job_intervals": [(s, e) for _, s, e in jobs],
            "sql_executions": len(executions),
            "source_scans": scans,
            "source_rows": scan_rows,
            "source_scan_ms": scan_ms,
            "python_scan_rows": py_rows,
            "output_rereads": rereads,
            "plan_ms": plan_ms,
            "run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                               for s in stages),
        }


def busy_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
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


class PgCounters:
    """Cumulative counters of one source and one target database.

    Backends flush their statistics when they exit, so ``read`` first waits
    until no other client backend is connected, then forces its own flush.
    Table statistics are per database and need a connection to each; the
    cluster-wide views are read from the ``postgres`` database so that the
    monitoring itself adds no statements or transactions to the target."""

    def __init__(self, server, source_db: str, target_db: str):
        self.server = server
        self.source_db = source_db
        self.target_db = target_db

    def _query(self, database: str, sql: str) -> list[tuple]:
        conn = self.server.connect(database)
        conn.autocommit = True
        try:
            cur = conn.cursor()
            cur.execute(sql)
            return cur.fetchall()
        finally:
            conn.close()

    def quiesce(self, timeout_s: float = 30.0) -> None:
        deadline = time.monotonic() + timeout_s
        while True:
            rows = self._query("postgres", (
                "SELECT count(*) FROM pg_stat_activity "
                "WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()"))
            if int(rows[0][0]) == 0:
                return
            if time.monotonic() > deadline:
                raise RuntimeError("client backends still connected")
            time.sleep(0.01)

    def read(self) -> dict:
        """Cluster-wide views first, read from the ``postgres`` database so
        that they see no monitoring statement in the target; then the
        per-database table counters, whose one transaction on the target
        lands after the transaction count was taken (``delta`` removes
        it from the next reading)."""
        self.quiesce()
        cluster = self._query("postgres", (
            "SELECT "
            f"(SELECT xact_commit FROM pg_stat_database WHERE datname = '{self.target_db}'), "
            "(SELECT coalesce(sum(calls), 0) FROM pg_stat_statements s "
            f" JOIN pg_database d ON d.oid = s.dbid WHERE d.datname = '{self.target_db}'), "
            "(SELECT wal_bytes FROM pg_stat_wal)"))[0]
        src = self._query(self.source_db, (
            "SELECT coalesce(sum(seq_scan + coalesce(idx_scan, 0)), 0), "
            "coalesce(sum(seq_tup_read + coalesce(idx_tup_fetch, 0)), 0) "
            "FROM pg_stat_user_tables"))[0]
        tgt = self._query(self.target_db, (
            "SELECT coalesce(sum(n_tup_ins), 0), coalesce(sum(n_tup_upd), 0) "
            "FROM pg_stat_user_tables"))[0]
        return {
            "source_scans": int(src[0]),
            "source_rows": int(src[1]),
            "rows_inserted": int(tgt[0]),
            "rows_updated": int(tgt[1]),
            "xacts": int(cluster[0]),
            "statements": int(cluster[1]),
            "wal_bytes": int(cluster[2]),
        }

    def reset_statements(self) -> None:
        self._query("postgres", "SELECT pg_stat_statements_reset()")

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        """Pass counters between two readings taken around a pass, with
        ``reset_statements`` called after the first. The first reading's
        own target-table query committed one transaction."""
        out = {k: after[k] - before[k] for k in after}
        out["xacts"] -= 1
        out["statements"] = after["statements"]
        return out
