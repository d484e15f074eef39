"""Spark 4 Python Data Source over the DB-API layer — the engine's one
PostgreSQL source: executor-side partitioned reads from either backend,
``spark.read.format("fakepg")`` (protocol-level fake, state-file path) or
``spark.read.format("pgwire")`` (REAL PostgreSQL over the pure-Python v3
wire client, ``sources/pgwire.py``).

Reads go through Spark's official Python Data Source API
(``pyspark.sql.datasource``, SPARK-44076): ``partitions()`` reproduces
Spark JDBC's range-partitioning predicates (``partition_clauses``), and
each ``read(partition)`` opens its own connection INSIDE the task — the
per-partition-connection execution model of a JDBC scan on a real
cluster, including per-connection snapshot pinning
(``SET TRANSACTION SNAPSHOT`` via ``session_init_sql``), so every
partition of a scan observes one point-in-time view regardless of
concurrent writers (reference: ``src/DbCopier.scala:130-145``). Reads
are lazy: every action on the DataFrame re-runs the scan, and each run
imports the same snapshot.

Column types come from the database itself through the
``information_schema.columns`` contract (``jdbc.COLUMNS_SQL``), mapped to
a Spark schema — no caller-side type declarations.

Options (all strings, per the DataSource API):

* ``path``       — fake-PG state file (``format("fakepg")``)
* ``host`` / ``port`` / ``user`` / ``database`` / ``password``
                 — live-server DSN (``format("pgwire")``)
* ``table``      — table to scan (required)
* ``dbschema``   — database schema, default ``public``
* ``where``      — pushed WHERE clause text
* ``partition_column`` / ``lower`` / ``upper`` / ``num_partitions``
                 — Spark-JDBC-style range partitioning
* ``snapshot_id`` — pin all partitions to one exported snapshot

Register once per session: ``spark.dataSource.register(FakePGDataSource)``
and/or ``spark.dataSource.register(PGWireDataSource)``.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from ..plans.table_spec import DEFAULT_BATCH_SIZE
from .catalog import quote_identifier, quote_qualified
from .jdbc import COLUMNS_SQL, render_select, upsert_writer

_TYPE_MAP: list[tuple[str, Callable[[re.Match], T.DataType]]] = [
    (r"bigint|int8", lambda m: T.LongType()),
    (r"integer|int4|int\b|smallint", lambda m: T.IntegerType()),
    (r"numeric\((\d+),\s*(\d+)\)|decimal\((\d+),\s*(\d+)\)",
     lambda m: T.DecimalType(int(m.group(1) or m.group(3)),
                             int(m.group(2) or m.group(4)))),
    (r"numeric|decimal", lambda m: T.DecimalType(38, 18)),
    (r"double|float8|real", lambda m: T.DoubleType()),
    (r"boolean|bool\b", lambda m: T.BooleanType()),
]


def _spark_type(pg_type: str) -> T.DataType:
    for pattern, factory in _TYPE_MAP:
        m = re.match(pattern, pg_type.strip().lower())
        if m:
            return factory(m)
    return T.StringType()  # text / varchar / jsonb / timestamps-as-text


def session_init_sql(snapshot_id: str) -> str:
    """The statement pair every pinned partition connection runs before
    its SELECT (reference: ``src/CopyAction.scala:131-141``)."""
    return (
        "BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ; "
        f"SET TRANSACTION SNAPSHOT '{snapshot_id}'"
    )


def partition_clauses(column: str, lower: int, upper: int, n: int) -> list[str]:
    """Spark JDBC's range-partitioning predicates
    (JDBCRelation.columnPartition): stride floor, first partition takes
    ``< bound OR IS NULL``, last takes ``>= bound``."""
    if n <= 1:
        return [""]
    stride = max((upper - lower) // n, 1)
    q = quote_identifier(column)
    clauses = []
    bound = lower + stride
    clauses.append(f"({q} < {bound} OR {q} IS NULL)")
    for _ in range(n - 2):
        clauses.append(f"({q} >= {bound} AND {q} < {bound + stride})")
        bound += stride
    clauses.append(f"({q} >= {bound})")
    return clauses


def introspect_types(connect: Callable[[], Any], schema: str = "public") -> dict[str, dict[str, str]]:
    """table -> column -> database type, via the information_schema
    contract (column order preserved)."""
    conn = connect()
    try:
        cur = conn.cursor()
        cur.execute(COLUMNS_SQL, (schema,))
        out: dict[str, dict[str, str]] = {}
        for table, col, dtype in cur.fetchall():
            out.setdefault(table, {})[col] = dtype
        return out
    finally:
        conn.close()


def _select_sql(options, schema: T.StructType, *conjuncts: str) -> str:
    """The scan's SELECT: the ``where`` option ANDed with ``conjuncts``
    (a partition's range predicate, a stream's offset window)."""
    parts = [c for c in (options.get("where"), *conjuncts) if c]
    where = " AND ".join(
        f"({c})" if len(parts) > 1 else c for c in parts
    ) or None
    return render_select(
        options["table"], [f.name for f in schema.fields],
        options.get("dbschema", "public"), where,
    )


def _connect_from_options(options) -> Callable:
    """Picklable zero-arg connect factory resolved from read options —
    state-file path selects the fake, host/port the live wire client.
    Called on the driver (schema) AND inside executor tasks (read)."""
    if "path" in options:
        from . import fakepg

        return functools.partial(fakepg.connect, options["path"])
    from . import pgwire

    return functools.partial(
        pgwire.connect,
        host=options.get("host", "127.0.0.1"),
        port=int(options.get("port", "5432")),
        user=options.get("user", "postgres"),
        database=options.get("database", "postgres"),
        password=options.get("password"),
    )


class _RangePartition(InputPartition):
    def __init__(self, clause: str):
        self.clause = clause


class FakePGDataSource(DataSource):
    """``format("fakepg")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "fakepg"

    def schema(self):
        table = self.options["table"]
        schema_name = self.options.get("dbschema", "public")
        types = introspect_types(_connect_from_options(self.options), schema_name)
        if table not in types:
            raise ValueError(f"unknown table {table!r}")
        return T.StructType(
            [T.StructField(c, _spark_type(t), True)
             for c, t in types[table].items()]
        )

    def reader(self, schema: T.StructType) -> "DbApiReader":
        return DbApiReader(self.options, schema)

    def simpleStreamReader(self, schema: T.StructType) \
            -> "DbApiSimpleStreamReader":
        """``spark.readStream.format("fakepg"/"pgwire")`` — incremental
        high-watermark CDC ingest; see DbApiSimpleStreamReader."""
        return DbApiSimpleStreamReader(self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool) -> "DbApiWriter":
        """``df.write.format("fakepg"/"pgwire")`` — executor-side batched
        INSERT [ON CONFLICT] (``jdbc.upsert_writer``; COPY for plain
        appends on a live server), one connection + one transaction per
        partition (partition-atomic, not job-atomic — the same contract
        as Spark's own JDBC sink). ``mode("overwrite")`` clears the
        target table driver-side before the tasks launch.

        Write options: ``table`` (required), ``dbschema``,
        ``on_conflict`` (``update`` | ``nothing``), ``primary_key``
        (comma-separated, required for ``update``), ``batch_size`` (default
        ``table_spec.DEFAULT_BATCH_SIZE``, the reference's 5000)."""
        if overwrite:
            conn = _connect_from_options(self.options)()
            try:
                cur = conn.cursor()
                cur.execute(
                    "DELETE FROM " + quote_qualified(
                        self.options["table"],
                        self.options.get("dbschema", "public"),
                    )
                )
                conn.commit()
            finally:
                conn.close()
        return DbApiWriter(self.options, schema)


class PGWireDataSource(FakePGDataSource):
    """``format("pgwire")`` — identical scan plan against a REAL server."""

    @classmethod
    def name(cls) -> str:
        return "pgwire"


class DbApiReader(DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self.options = dict(options)
        self.spark_schema = schema

    def partitions(self) -> list[InputPartition]:
        col = self.options.get("partition_column")
        if not col:
            return [_RangePartition("")]
        clauses = partition_clauses(
            col,
            int(self.options["lower"]),
            int(self.options["upper"]),
            int(self.options["num_partitions"]),
        )
        return [_RangePartition(c) for c in clauses]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        # Runs in the executor's Python worker: one connection per task,
        # exactly like a JDBC partition scan.
        options = self.options
        sql = _select_sql(options, self.spark_schema, partition.clause)
        conn = _connect_from_options(options)()
        try:
            cur = conn.cursor()
            snapshot_id = options.get("snapshot_id")
            if snapshot_id:
                cur.execute(session_init_sql(snapshot_id))
            cur.execute(sql)
            for row in cur.fetchall():
                yield tuple(row)
        finally:
            conn.close()


@dataclass
class _WriteResult(WriterCommitMessage):
    n_rows: int


class DbApiWriter(DataSourceWriter):
    def __init__(self, options, schema: T.StructType):
        self.options = dict(options)
        self.spark_schema = schema

    def write(self, iterator: Iterator) -> _WriteResult:
        # Executor-side: one connection and one transaction per partition.
        options = self.options
        cols = [f.name for f in self.spark_schema.fields]
        table = options["table"]
        dbschema = options.get("dbschema", "public")
        batch_size = int(options.get("batch_size", DEFAULT_BATCH_SIZE))
        oc = None
        pk: list[str] = []
        oc_mode = options.get("on_conflict")
        if oc_mode:
            from ..plans.on_conflict import OnConflict

            oc = OnConflict(action=oc_mode)
            pk = [c.strip() for c in options.get("primary_key", "").split(",")
                  if c.strip()]
        conn = _connect_from_options(options)()
        # Plain appends on a backend with the COPY sub-protocol take the
        # bulk path (~10x: one round trip per chunk, rows parsed straight
        # into the heap). ON CONFLICT must INSERT.
        if oc is not None or not hasattr(conn, "copy_in"):
            write_partition = upsert_writer(
                lambda: conn, table, cols, dbschema, oc, pk, batch_size)
            return _WriteResult(n_rows=write_partition(iterator))
        try:
            n = conn.copy_in(
                table, cols, (tuple(row[c] for c in cols) for row in iterator),
                schema=dbschema, chunk_rows=batch_size,
            )
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()
        return _WriteResult(n_rows=n)

    def commit(self, messages) -> None:
        # Per-partition transactions already committed; nothing global.
        return None

    def abort(self, messages) -> None:
        # Committed partitions stay (partition-atomic contract).
        return None


class DbApiSimpleStreamReader(SimpleDataSourceStreamReader):
    """Incremental high-watermark ingest from a database table —
    ``spark.readStream.format("fakepg"/"pgwire")`` — the poll-based CDC
    shape (AUTO_INCREMENT id / ingestion sequence as the cursor, the
    same contract as Kafka-Connect JDBC source incrementing mode).

    Offsets are ``{"watermark": <max seen offset_column>}``; each
    ``read`` drains rows strictly above the checkpointed watermark and
    advances it, and ``readBetweenOffsets`` replays ``(start, end]``
    deterministically for failure recovery — so a crashed micro-batch
    re-reads EXACTLY its rows (exactly-once with a transactional or
    idempotent sink). Requires ``offset_column`` to be monotonically
    assigned by the source database (sequences qualify; rollbacks leave
    gaps, which are fine — the cursor is MAX seen, not COUNT).

    The simple stream reader fetches on the DRIVER by design (the API
    ships rows to executors itself): right for CDC-scale increments.
    Bulk history backfill should use the batch path
    (``spark.read.format(...)`` with range partitions) and hand the
    stream its final watermark via the ``start_offset`` option.

    Options beyond the batch reader's: ``offset_column`` (default
    ``id``), ``start_offset`` (default 0 — everything already in the
    table streams as the first batch unless set)."""

    def __init__(self, options, schema: T.StructType):
        self.options = dict(options)
        self.spark_schema = schema
        self.offset_col = self.options.get("offset_column", "id")

    def initialOffset(self) -> dict:
        return {"watermark": int(self.options.get("start_offset", "0"))}

    def _fetch(self, where: str) -> list[tuple]:
        sql = _select_sql(self.options, self.spark_schema, where)
        conn = _connect_from_options(self.options)()
        try:
            cur = conn.cursor()
            cur.execute(sql + f" ORDER BY {self.offset_col}")
            return [tuple(r) for r in cur.fetchall()]
        finally:
            conn.close()

    def read(self, start: dict):
        wm = int(start["watermark"])
        rows = self._fetch(f"{self.offset_col} > {wm}")
        idx = [f.name for f in self.spark_schema.fields].index(self.offset_col)
        new_wm = max((int(r[idx]) for r in rows), default=wm)
        return iter(rows), {"watermark": new_wm}

    def readBetweenOffsets(self, start: dict, end: dict):
        s, e = int(start["watermark"]), int(end["watermark"])
        return iter(self._fetch(
            f"{self.offset_col} > {s} AND {self.offset_col} <= {e}"
        ))
