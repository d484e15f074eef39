"""PostgreSQL SQL layer, snapshot coordinator and upsert sink with the
reference's transactional semantics, re-shaped for partitioned Spark
execution.

Source (``src/CopyAction.scala:72-146``, ``src/DbCopier.scala:130-145``):
  * tables are read through the executor-side Python DataSource
    ``spark.read.format("pgwire"|"fakepg")`` (``sources/pyds.py``), which
    runs the ``render_select`` text below with the pushed ``where``
    option and Spark-JDBC-style range partitions, one connection per
    partition task;
  * snapshot pinning: ``SnapshotCoordinator`` exports
    ``pg_export_snapshot()`` on a held REPEATABLE READ connection; every
    partition connection imports it (``SET TRANSACTION SNAPSHOT``, the
    ``snapshot_id`` read option) so parallel partitioned reads see one
    point-in-time view.

Sink (``src/CopyAction.scala:92-235``, ``src/OnConflict.scala``):
  * ``upsert_writer`` is the one partition loop: batched
    ``INSERT ... [ON CONFLICT]`` in one transaction per partition;
    retried tasks are idempotent under DO NOTHING/DO UPDATE.
    ``write_jdbc`` maps it over the partitions and sums the rows they
    wrote; the DataSource writer (``df.write.format("pgwire"|"fakepg")``)
    calls it for every write that cannot take the COPY path;
  * sequence reset (``src/TableCopier.scala:20-35``) and self-ref FK
    constraint deferral (``src/ConstraintDeferrer.scala:23-88``) are
    driver-side brackets around the write job. Deferral matters MORE
    here than in the reference: partitioned parallel writes randomize
    parent/child insert order within a table.

Connections come from an injectable zero-arg ``connect`` factory
(``pgwire.connect`` for a live server, ``fakepg.connect`` for the
protocol-level fake), and the SQL renderers are pure functions,
unit-tested without a database.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame

from ..plans.on_conflict import OnConflict
from ..plans.table_spec import DEFAULT_BATCH_SIZE
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
) -> str:
    """The source SELECT (``src/CopyAction.scala:72-84``). A spec's
    ``LIMIT`` (with its ``ORDER BY "id" DESC``) is applied by
    ``plans.compiler.apply_spec``, after the FK subsetting."""
    cols = ", ".join(quote_identifier(c) for c in columns)
    sql = f"SELECT {cols} FROM {quote_qualified(table, schema)}"
    if where_sql:
        sql += f" WHERE {where_sql}"
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
    # contract (the DataSource schema in pyds.introspect_types,
    # catalog.columns) — a real server returns arbitrary order without it.
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
# Snapshot coordinator
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
    batch_size: int = DEFAULT_BATCH_SIZE,
) -> Callable[[Iterator], int]:
    """Partition function executing batched INSERT [ON CONFLICT]: one
    transaction per partition, ``executemany`` every ``batch_size`` rows
    (``src/CopyAction.scala:167-235``); returns the rows written. Map it
    over ``df.rdd`` partitions. ``connect`` must be picklable (e.g. a
    module-level factory closing over a DSN string), since it runs
    executor-side."""
    insert_sql = render_insert(table, columns, schema, on_conflict, primary_key)

    def write_partition(rows: Iterator) -> int:
        conn = connect()
        n = 0
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    cur.executemany(insert_sql, batch)
                    n += len(batch)
                    batch.clear()
            if batch:
                cur.executemany(insert_sql, batch)
                n += len(batch)
            conn.commit()
            return n
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
    batch_size: int = DEFAULT_BATCH_SIZE,
    catalog: Catalog | None = None,
) -> int:
    """Write with upsert support, bracketed by self-ref constraint deferral
    and followed by sequence resets when a catalog is supplied. Returns the
    rows written, summed from the partitions of the one write job.

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
        try:
            write_partition = upsert_writer(connect, table, columns, schema,
                                            on_conflict, primary_key, batch_size)
            written = df.rdd.mapPartitions(
                lambda rows: [write_partition(rows)]).sum()
            if catalog is not None:
                for seq in catalog.sequences_of(table):
                    cur.execute(render_setval(seq.sequence_name,
                                              seq.column_name, table, schema))
        except BaseException:
            # A failed setval aborts the transaction; the restore below
            # needs a fresh one.
            conn.rollback()
            raise
        finally:
            # Restore to the NOT DEFERRABLE default whether or not the
            # write succeeded; best-effort, failures are logged, not
            # raised (src/ConstraintDeferrer.scala:45-65).
            for constraint in self_ref_constraints:
                try:
                    cur.execute(render_restore_constraint(
                        table, constraint, False, False, schema))
                except Exception:  # pragma: no cover
                    logger.warning("Failed to restore constraint %s on %s",
                                   constraint, table, exc_info=True)
            conn.commit()
    finally:
        conn.close()
    return written
