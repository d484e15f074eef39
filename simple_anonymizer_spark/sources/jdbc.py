"""JDBC (PostgreSQL) source & sink with the reference's transactional
semantics, re-shaped for partitioned Spark execution.

Source (``src/CopyAction.scala:72-146``, ``src/DbCopier.scala:130-145``):
  * per-table reads push the rendered ``SELECT ... WHERE ... [ORDER BY id
    DESC] [LIMIT n]`` INTO the source as a ``dbtable`` subquery — PostgreSQL
    does the filtering/subsetting before a row crosses the wire (including
    propagated IN-subqueries and recursive CTEs from plans.propagation);
  * snapshot pinning: the driver exports ``pg_export_snapshot()`` on a held
    REPEATABLE READ coordinator connection; every partition connection runs
    ``SET TRANSACTION SNAPSHOT '<id>'`` via Spark's ``sessionInitStatement``
    so parallel partitioned reads see one point-in-time view;
  * parallelism via ``partitionColumn/lowerBound/upperBound/numPartitions``.

Sink (``src/CopyAction.scala:92-235``, ``src/OnConflict.scala``):
  * plain INSERT path = stock ``df.write.jdbc`` with ``batchsize``;
  * upsert path = ``foreachPartition`` executing batched
    ``INSERT ... ON CONFLICT`` (no native Spark upsert) — per-partition
    transactions; retried tasks are idempotent under DO NOTHING/DO UPDATE;
  * sequence reset (``src/TableCopier.scala:20-35``) and self-ref FK
    constraint deferral (``src/ConstraintDeferrer.scala:23-88``) are
    driver-side JDBC brackets around the write job. Deferral matters MORE
    here than in the reference: partitioned parallel writes randomize
    parent/child insert order within a table.

The wire layer needs a Postgres driver (psycopg2/pg8000) which this
container does not ship — connection factories are injectable and the SQL
renderers are pure functions, unit-tested without a database.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..plans.on_conflict import OnConflict
from ..plans.table_spec import TableSpec
from .catalog import Catalog, quote_identifier, quote_qualified

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# SQL rendering (pure; mirrors reference text exactly where cited)
# ---------------------------------------------------------------------------


def render_select(
    table: str,
    columns: list[str],
    schema: str = "public",
    where_sql: str | None = None,
    limit: int | None = None,
) -> str:
    """The source SELECT (``src/CopyAction.scala:72-84``): ORDER BY "id"
    DESC before LIMIT only when the column list contains ``id``."""
    cols = ", ".join(quote_identifier(c) for c in columns)
    sql = f"SELECT {cols} FROM {quote_qualified(table, schema)}"
    if where_sql:
        sql += f" WHERE {where_sql}"
    if limit is not None:
        if "id" in columns:
            sql += ' ORDER BY "id" DESC'
        sql += f" LIMIT {limit}"
    return sql


def render_insert(
    table: str,
    columns: list[str],
    schema: str = "public",
    on_conflict: OnConflict | None = None,
    primary_key: list[str] | None = None,
) -> str:
    """Prepared INSERT (``src/CopyAction.scala:92-125``)."""
    cols = ", ".join(quote_identifier(c) for c in columns)
    placeholders = ", ".join(["%s"] * len(columns))
    sql = (
        f"INSERT INTO {quote_qualified(table, schema)} ({cols}) "
        f"VALUES ({placeholders})"
    )
    if on_conflict is not None:
        sql += " " + on_conflict.render(columns, primary_key or [], quote_identifier)
    return sql


def render_setval(sequence: str, column: str, table: str, schema: str = "public") -> str:
    """Sequence reset (``src/TableCopier.scala:29``)."""
    return (
        f"SELECT setval('{sequence}', coalesce(max({quote_identifier(column)}), 0) + 1, "
        f"false) FROM {quote_qualified(table, schema)}"
    )


def render_defer_constraint(table: str, constraint: str, schema: str = "public") -> str:
    """(``src/ConstraintDeferrer.scala:27``)."""
    return (
        f"ALTER TABLE {quote_qualified(table, schema)} ALTER CONSTRAINT "
        f"{quote_identifier(constraint)} DEFERRABLE INITIALLY DEFERRED"
    )


def render_restore_constraint(
    table: str, constraint: str, deferrable: bool, initially_deferred: bool,
    schema: str = "public",
) -> str:
    """(``src/ConstraintDeferrer.scala:52-56``)."""
    if not deferrable:
        mode = "NOT DEFERRABLE"
    elif initially_deferred:
        mode = "DEFERRABLE INITIALLY DEFERRED"
    else:
        mode = "DEFERRABLE INITIALLY IMMEDIATE"
    return (
        f"ALTER TABLE {quote_qualified(table, schema)} ALTER CONSTRAINT "
        f"{quote_identifier(constraint)} {mode}"
    )


# Catalog introspection queries (``src/DbContext.scala:49-118`` verbatim).
COLUMNS_SQL = (
    # ORDER BY ordinal_position: declared column order is part of the
    # contract (dbapi_reader's default projection, catalog.columns) — a
    # real server returns arbitrary order without it.
    "SELECT table_name, column_name, data_type FROM information_schema.columns "
    "WHERE table_schema = %s ORDER BY table_name, ordinal_position"
)
PRIMARY_KEYS_SQL = """
SELECT c.relname, a.attname
FROM pg_index i
JOIN pg_class c ON c.oid = i.indrelid
JOIN pg_namespace n ON n.oid = c.relnamespace
JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum = ANY(i.indkey)
WHERE i.indisprimary AND n.nspname = %s
"""
SEQUENCES_SQL = """
SELECT t.relname, a.attname, s.relname
FROM pg_class s
JOIN pg_namespace ns ON ns.oid = s.relnamespace
JOIN pg_depend d ON d.objid = s.oid
JOIN pg_class t ON t.oid = d.refobjid
JOIN pg_namespace nt ON nt.oid = t.relnamespace
JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = d.refobjsubid
WHERE s.relkind = 'S' AND ns.nspname = %s AND nt.nspname = %s
  AND d.deptype IN ('a', 'i')
"""
FOREIGN_KEYS_SQL = """
SELECT con.conname, child.relname, parent.relname,
       att_child.attname, att_parent.attname, u.ord
FROM pg_constraint con
JOIN pg_class child ON child.oid = con.conrelid
JOIN pg_class parent ON parent.oid = con.confrelid
JOIN pg_namespace n ON n.oid = child.relnamespace
JOIN unnest(con.conkey) WITH ORDINALITY AS u(attnum, ord) ON true
JOIN pg_attribute att_child
  ON att_child.attrelid = con.conrelid AND att_child.attnum = u.attnum
JOIN pg_attribute att_parent
  ON att_parent.attrelid = con.confrelid
 AND att_parent.attnum = con.confkey[u.ord]
WHERE con.contype = 'f' AND n.nspname = %s
"""
TABLES_SQL = (
    "SELECT table_name FROM information_schema.tables "
    "WHERE table_schema = %s AND table_type = 'BASE TABLE' ORDER BY table_name"
)


def introspect_catalog(connect: Callable[[], Any], schema: str = "public") -> Catalog:
    """Build a Catalog via one bulk query per metadata category (the
    reference's lazy-bulk-fetch strategy, ``src/DbContext.scala:11-18``).
    ``connect`` returns a DB-API connection (injectable; psycopg2 when
    available)."""
    from .catalog import SequenceInfo, group_fks

    conn = connect()
    try:
        cur = conn.cursor()
        cur.execute(TABLES_SQL, (schema,))
        tables = [r[0] for r in cur.fetchall()]
        cur.execute(COLUMNS_SQL, (schema,))
        columns: dict[str, list[str]] = {}
        for table, col, _dtype in cur.fetchall():
            columns.setdefault(table, []).append(col)
        cur.execute(PRIMARY_KEYS_SQL, (schema,))
        pks: dict[str, set[str]] = {}
        for table, col in cur.fetchall():
            pks.setdefault(table, set()).add(col)
        cur.execute(FOREIGN_KEYS_SQL, (schema,))
        fk_rows = [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in cur.fetchall()]
        cur.execute(SEQUENCES_SQL, (schema, schema))
        seqs = [SequenceInfo(r[0], r[1], r[2]) for r in cur.fetchall()]
        return Catalog.declared(
            columns={t: columns.get(t, []) for t in tables},
            primary_keys=pks,
            foreign_keys=group_fks(fk_rows),
            sequences=seqs,
        )
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# Snapshot-pinned partitioned source
# ---------------------------------------------------------------------------


@dataclass
class SnapshotCoordinator:
    """Holds the REPEATABLE READ coordinator connection whose exported
    snapshot every partition read imports (``src/DbCopier.scala:130-145``).
    Keep this object alive for the whole copy; ``close()`` releases it."""

    connection: Any
    snapshot_id: str

    @staticmethod
    def export(connect: Callable[[], Any]) -> "SnapshotCoordinator":
        conn = connect()
        conn.autocommit = False
        cur = conn.cursor()
        cur.execute("SET TRANSACTION ISOLATION LEVEL REPEATABLE READ")
        cur.execute("SELECT pg_export_snapshot()")
        snapshot_id = cur.fetchone()[0]
        logger.info("Exported snapshot: %s", snapshot_id)
        return SnapshotCoordinator(conn, snapshot_id)

    def close(self) -> None:
        try:
            self.connection.rollback()
        finally:
            self.connection.close()


def jdbc_reader(
    spark: SparkSession,
    url: str,
    properties: dict[str, str],
    schema: str = "public",
    snapshot_id: str | None = None,
    fetch_size: int = 5000,
    partition: tuple[str, int, int, int] | None = None,
) -> Callable[..., DataFrame]:
    """Source factory for DbCopier: reads render the full per-table SELECT
    into a JDBC subquery. ``partition=(column, lower, upper, n)`` enables
    parallel range reads the reference's single-cursor pipe never had."""

    def read(table: str, columns: list[str] | None = None,
             where_sql: str | None = None, limit: int | None = None) -> DataFrame:
        if columns is None:
            subquery = f"SELECT * FROM {quote_qualified(table, schema)}"
            if where_sql:
                subquery += f" WHERE {where_sql}"
        else:
            subquery = render_select(table, columns, schema, where_sql, limit)
        reader = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", f"({subquery}) AS __src")
            .option("fetchsize", str(fetch_size))
        )
        if snapshot_id:
            # Each partition connection pins the coordinator's snapshot
            # before reading (reference: src/CopyAction.scala:131-141).
            reader = reader.option(
                "sessionInitStatement",
                "BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ; "
                f"SET TRANSACTION SNAPSHOT '{snapshot_id}'",
            )
        if partition is not None:
            col, lower, upper, n = partition
            reader = (
                reader.option("partitionColumn", col)
                .option("lowerBound", str(lower))
                .option("upperBound", str(upper))
                .option("numPartitions", str(n))
            )
        for k, v in properties.items():
            reader = reader.option(k, v)
        return reader.load()

    return read


# ---------------------------------------------------------------------------
# Upsert sink
# ---------------------------------------------------------------------------


def upsert_writer(
    connect: Callable[[], Any],
    table: str,
    columns: list[str],
    schema: str = "public",
    on_conflict: OnConflict | None = None,
    primary_key: list[str] | None = None,
    batch_size: int = TableSpec().batch_size,
) -> Callable[[Iterator], None]:
    """Partition function executing batched INSERT [ON CONFLICT]: one
    transaction per partition, ``executemany`` every ``batch_size`` rows
    (``src/CopyAction.scala:167-235``). Use with ``df.foreachPartition``.
    ``connect`` must be picklable (e.g. a module-level factory closing over
    a DSN string), since it runs executor-side."""
    insert_sql = render_insert(table, columns, schema, on_conflict, primary_key)

    def write_partition(rows: Iterator) -> None:
        conn = connect()
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    cur.executemany(insert_sql, batch)
                    batch.clear()
            if batch:
                cur.executemany(insert_sql, batch)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    return write_partition


def write_jdbc(
    df: DataFrame,
    connect: Callable[[], Any],
    table: str,
    schema: str = "public",
    on_conflict: OnConflict | None = None,
    primary_key: list[str] | None = None,
    batch_size: int = TableSpec().batch_size,
    catalog: Catalog | None = None,
) -> None:
    """Write with upsert support, bracketed by self-ref constraint deferral
    and followed by sequence resets when a catalog is supplied.

    Self-referencing tables are coalesced to ONE partition: constraint
    deferral is per-transaction, and every Spark partition commits its own
    transaction — a child row committed in partition A before its parent
    commits in partition B would violate the FK no matter how the
    constraint is deferred. One partition = one transaction = deferral
    actually covers the whole table. Self-ref tables are hierarchy/dimension
    shaped (categories, employees, org trees), not fact tables, so the
    single-writer constraint is the correct trade at scale; a partitioned
    escape hatch for a huge self-ref table is topological-level batching,
    which the reference also never needed (``src/ConstraintDeferrer.scala``)."""
    columns = df.columns
    self_ref_constraints: list[str] = []
    if catalog is not None:
        self_ref_constraints = [
            fk.name for fk in catalog.self_ref_fks(table) if fk.name
        ]
    if self_ref_constraints:
        df = df.coalesce(1)

    conn = connect()
    try:
        cur = conn.cursor()
        for constraint in self_ref_constraints:
            cur.execute(render_defer_constraint(table, constraint, schema))
        conn.commit()

        df.foreachPartition(
            upsert_writer(connect, table, columns, schema, on_conflict,
                          primary_key, batch_size)
        )

        if catalog is not None:
            for seq in catalog.sequences_of(table):
                cur.execute(render_setval(seq.sequence_name, seq.column_name,
                                          table, schema))
        for constraint in self_ref_constraints:
            # Best-effort restore to NOT DEFERRABLE default; failures are
            # logged, not raised (src/ConstraintDeferrer.scala:45-65).
            try:
                cur.execute(render_restore_constraint(table, constraint, False,
                                                      False, schema))
            except Exception:  # pragma: no cover
                logger.warning("Failed to restore constraint %s on %s",
                               constraint, table, exc_info=True)
        conn.commit()
    finally:
        conn.close()
