"""Live-PostgreSQL integration tier: boots a REAL PostgreSQL server
(initdb + pg_ctl, trust auth, fsync off) and replays the wire-layer
integration suite (``tests/test_pg_integration.py``) against it through
the pure-Python v3-protocol client (``sources/pgwire.py``).

This is the reference's Testcontainers tier
(``integration-tests/src/scala/simpleanonymizer/PostgresTestBase.scala:10-79``)
made real: same schema, same data, same assertions — but the backend is
an actual libpq-speaking server, so MVCC snapshots, ON CONFLICT,
DEFERRABLE brackets, jsonb canonicalization, sequences, and SQLSTATE
error mapping are all exercised over the genuine wire format the fake
(``sources/fakepg.py``) can only model.

Skips cleanly when no server binaries exist or the server cannot start
(the whole module is environment-gated, never red in a container without
PostgreSQL)."""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import socket
import subprocess
import tempfile
from functools import partial

import pytest

import test_pg_integration as T
from simple_anonymizer_spark.sources import pgwire
from simple_anonymizer_spark.sources.catalog import quote_identifier

# ---------------------------------------------------------------------------
# Server management
# ---------------------------------------------------------------------------


def _pg_bin(name: str) -> str | None:
    found = shutil.which(name)
    if found:
        return found
    for d in sorted(glob.glob("/usr/lib/postgresql/*/bin"), reverse=True):
        candidate = os.path.join(d, name)
        if os.path.exists(candidate):
            return candidate
    return None


def _have_pg_user() -> bool:
    import pwd

    try:
        pwd.getpwnam("postgres")
        return True
    except KeyError:
        return False


def _run_pg(cmd: str) -> subprocess.CompletedProcess:
    """Run a server-management command; postgres refuses to run as root,
    so drop to the postgres system user when we are root."""
    if os.geteuid() == 0:
        argv = ["su", "postgres", "-s", "/bin/sh", "-c", cmd]
    else:
        argv = ["/bin/sh", "-c", cmd]
    return subprocess.run(argv, cwd="/tmp", capture_output=True, text=True,
                          timeout=120)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.fixture(scope="session")
def pg_server():
    initdb, pg_ctl = _pg_bin("initdb"), _pg_bin("pg_ctl")
    if not initdb or not pg_ctl:
        pytest.skip("no PostgreSQL server binaries in this environment")
    if os.geteuid() == 0 and not _have_pg_user():
        pytest.skip("running as root and no postgres system user exists")

    base = tempfile.mkdtemp(prefix="pglive-")
    data = os.path.join(base, "data")
    if os.geteuid() == 0:
        shutil.chown(base, "postgres", None)
    port = _free_port()

    r = _run_pg(f"'{initdb}' -D '{data}' -A trust --no-sync -U postgres")
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-500:]}")

    opts = (f"-p {port} -k '{base}' -c listen_addresses=127.0.0.1 "
            "-c fsync=off -c synchronous_commit=off -c full_page_writes=off")
    r = _run_pg(f"'{pg_ctl}' -D '{data}' -l '{base}/log' -w -t 60 "
                f"-o \"{opts}\" start")
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-500:]}")
    try:
        conn = pgwire.connect(port=port)
        conn.close()
        yield {"host": "127.0.0.1", "port": port, "user": "postgres"}
    finally:
        _run_pg(f"'{pg_ctl}' -D '{data}' -m immediate stop")
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Live database handle — the same fixture surface FakePostgres exposes
# ---------------------------------------------------------------------------


class LivePG:
    """One database on the live server, with the schema-building surface
    the integration suite's fixtures drive (``create_table``,
    ``add_foreign_key``, ``load``) plus the shared backend contract
    (``connect`` / ``connect_factory`` / ``constraint_state`` /
    ``datasource_format`` / ``datasource_options``)."""

    datasource_format = "pgwire"

    def __init__(self, server: dict, dbname: str):
        self.server = server
        self.dbname = dbname
        self._columns: dict[str, list[str]] = {}

    # -- backend contract ---------------------------------------------------

    def connect(self) -> pgwire.Connection:
        return self.connect_factory()()

    def connect_factory(self):
        return partial(pgwire.connect, host=self.server["host"],
                       port=self.server["port"], user=self.server["user"],
                       database=self.dbname)

    def constraint_state(self, name: str) -> tuple[bool, bool]:
        conn = self.connect()
        try:
            cur = conn.cursor()
            cur.execute("SELECT condeferrable, condeferred FROM pg_constraint "
                        "WHERE conname = %s", (name,))
            row = cur.fetchone()
            if row is None:
                raise KeyError(name)
            return row
        finally:
            conn.close()

    def datasource_options(self) -> dict[str, str]:
        return {"host": self.server["host"], "port": str(self.server["port"]),
                "user": self.server["user"], "database": self.dbname}

    # -- fixture-building surface ------------------------------------------

    def _admin(self, sql: str, params=None) -> None:
        conn = self.connect()
        conn.autocommit = True
        try:
            conn.cursor().execute(sql, params)
        finally:
            conn.close()

    def create_table(self, table: str, columns: list[tuple[str, str]],
                     primary_key: list[str], serial: str | None = None) -> None:
        defs = [
            f"{quote_identifier(c)} {'serial' if c == serial else t}"
            for c, t in columns
        ]
        pk = ", ".join(quote_identifier(c) for c in primary_key)
        self._admin(
            f"CREATE TABLE {quote_identifier(table)} "
            f"({', '.join(defs)}, PRIMARY KEY ({pk}))"
        )
        self._columns[table] = [c for c, _ in columns]

    def add_foreign_key(self, name: str, table: str, columns: list[str],
                        ref_table: str, ref_columns: list[str]) -> None:
        cols = ", ".join(quote_identifier(c) for c in columns)
        refs = ", ".join(quote_identifier(c) for c in ref_columns)
        self._admin(
            f"ALTER TABLE {quote_identifier(table)} ADD CONSTRAINT "
            f"{quote_identifier(name)} FOREIGN KEY ({cols}) "
            f"REFERENCES {quote_identifier(ref_table)} ({refs})"
        )

    def load(self, table: str, rows: list[dict]) -> None:
        """Fixture data (insertion order already respects the FKs)."""
        cols = self._columns[table]
        sql = (f"INSERT INTO {quote_identifier(table)} "
               f"({', '.join(quote_identifier(c) for c in cols)}) "
               f"VALUES ({', '.join(['%s'] * len(cols))})")
        conn = self.connect()
        try:
            conn.cursor().executemany(
                sql, [tuple(r.get(c) for c in cols) for r in rows])
            conn.commit()
        finally:
            conn.close()


_dbseq = itertools.count()


def _new_db(server: dict, prefix: str) -> LivePG:
    name = f"{prefix}_{next(_dbseq)}"
    admin = LivePG(server, "postgres")
    admin._admin(f"CREATE DATABASE {quote_identifier(name)}")
    return LivePG(server, name)


def _drop_db(server: dict, db: LivePG) -> None:
    admin = LivePG(server, "postgres")
    admin._admin(
        f"DROP DATABASE IF EXISTS {quote_identifier(db.dbname)} WITH (FORCE)"
    )


@pytest.fixture()
def source_db(pg_server):
    db = _new_db(pg_server, "live_src")
    T.create_schema(db)
    T.load_data(db)
    yield db
    _drop_db(pg_server, db)


@pytest.fixture()
def target_db(pg_server):
    db = _new_db(pg_server, "live_tgt")
    T.create_schema(db)
    yield db
    _drop_db(pg_server, db)


# ---------------------------------------------------------------------------
# The suite, replayed over the wire. Each wrapper delegates to the
# backend-agnostic test body in test_pg_integration.
# ---------------------------------------------------------------------------


def test_wire_transactions_and_conflicts(source_db):
    T.test_fakepg_transactions_and_conflicts(source_db)


def test_wire_jsonb_canonicalization(source_db):
    T.test_fakepg_jsonb_canonicalization(source_db)


def test_introspect_catalog_contract(source_db):
    T.test_introspect_catalog_contract(source_db)


def test_pii_anonymization_across_all_tables(spark, source_db, target_db):
    T.test_pii_anonymization_across_all_tables(spark, source_db, target_db)


def test_fk_propagation_filters_children(spark, source_db, target_db):
    T.test_fk_propagation_filters_children(spark, source_db, target_db)


def test_self_ref_cross_table_propagation(spark, source_db, target_db):
    T.test_self_ref_cross_table_propagation(spark, source_db, target_db)


def test_nulled_and_fixed_values(spark, source_db, target_db, pg_server):
    def fresh_target():
        db = _new_db(pg_server, "live_fresh")
        T.create_schema(db)
        return db

    T.nulled_and_fixed_body(spark, source_db, target_db, fresh_target)


def test_jsonb_roundtrip_preserves_untargeted(spark, source_db, target_db):
    T.test_jsonb_roundtrip_preserves_untargeted(spark, source_db, target_db)


def test_type_preservation(spark, source_db, target_db):
    T.test_type_preservation(spark, source_db, target_db)


def test_on_conflict_do_update_and_do_nothing(spark, source_db, target_db):
    T.test_on_conflict_do_update_and_do_nothing(spark, source_db, target_db)


def test_sequence_reset_allows_insert_without_id(spark, source_db, target_db):
    T.test_sequence_reset_allows_insert_without_id(spark, source_db, target_db)


def test_limit_and_batch_size(spark, source_db, target_db):
    T.test_limit_and_batch_size(spark, source_db, target_db)


def test_copy_table_self_ref_children_before_parents(spark, source_db, target_db):
    T.test_copy_table_self_ref_children_before_parents(spark, source_db, target_db)


def test_copy_table_multi_fk_and_composite_self_ref(spark, source_db, target_db):
    T.test_copy_table_multi_fk_and_composite_self_ref(spark, source_db, target_db)


def test_hostile_identifier_quoting(spark, pg_server):
    src = _new_db(pg_server, "live_hsrc")
    tgt = _new_db(pg_server, "live_htgt")
    try:
        T.hostile_identifier_body(spark, src, tgt)
    finally:
        _drop_db(pg_server, src)
        _drop_db(pg_server, tgt)


def test_snapshot_pinned_partitioned_reads(spark, source_db):
    T.test_snapshot_pinned_partitioned_reads(spark, source_db)


def test_pushdown_select_rendering(spark, source_db):
    T.test_pushdown_select_rendering(spark, source_db)


def test_upsert_idempotent_under_task_retry(source_db, target_db):
    T.test_upsert_idempotent_under_task_retry(source_db, target_db)


def test_on_conflict_constraint_target(source_db, target_db):
    T.test_on_conflict_constraint_target(source_db, target_db)


def test_transaction_rollback_on_partition_failure(source_db, target_db):
    T.test_transaction_rollback_on_partition_failure(source_db, target_db)


def test_partitioned_read_covers_every_row_once(spark, source_db):
    T.test_partitioned_read_covers_every_row_once(spark, source_db)


def test_failed_write_restores_self_ref_deferral(spark, target_db):
    T.test_failed_write_restores_self_ref_deferral(spark, target_db)


def test_snapshot_covers_every_read_of_a_copy(spark, source_db, target_db):
    T.test_snapshot_covers_every_read_of_a_copy(spark, source_db, target_db)


# ---------------------------------------------------------------------------
# Pipelined executemany
# ---------------------------------------------------------------------------

_INSERT_USER = ('INSERT INTO "public"."users" ("id", "first_name", "last_name", '
                '"email") VALUES (%s, %s, %s, %s)')


def _user(i: int, name: str = "F") -> tuple:
    return (i, f"{name}{i}", f"L{i}", f"u{i}@example.com")


def test_live_executemany_sums_rowcounts_per_statement(target_db):
    """One batch is one Query message, but each row stays its own
    statement: a DO NOTHING conflict counts 0, and a key repeated inside
    one DO UPDATE batch inserts, then updates (a multi-row INSERT would
    refuse to touch the row twice)."""
    do_nothing = _INSERT_USER + ' ON CONFLICT ("id") DO NOTHING'
    do_update = (_INSERT_USER + ' ON CONFLICT ("id") DO UPDATE SET '
                 '"first_name" = EXCLUDED."first_name"')
    conn = target_db.connect()
    try:
        cur = conn.cursor()
        cur.executemany(do_nothing, [_user(i) for i in (1, 2, 3)])
        assert cur.rowcount == 3
        cur.executemany(do_nothing, [_user(i) for i in (3, 4, 5, 6)])
        assert cur.rowcount == 3
        cur.executemany(do_update, [_user(7), _user(7, "Again"), _user(1, "New")])
        assert cur.rowcount == 3
        cur.executemany(do_update, [])
        assert cur.rowcount == 0
        conn.commit()
        cur.execute('SELECT "id", "first_name" FROM "public"."users" '
                    'WHERE "id" IN (1, 7) ORDER BY "id"')
        assert cur.fetchall() == [(1, "New1"), (7, "Again7")]
        cur.execute('SELECT COUNT(*) FROM "public"."users"')
        assert cur.fetchall() == [(7,)]
    finally:
        conn.close()


@pytest.mark.parametrize("autocommit", [False, True])
def test_live_executemany_duplicate_mid_batch_keeps_no_row(target_db, autocommit):
    """A duplicate key in the middle of a batch raises IntegrityError and
    no row of the batch survives: inside a transaction after rollback, in
    autocommit mode because the batch is one implicit transaction."""
    conn = target_db.connect()
    conn.autocommit = autocommit
    try:
        cur = conn.cursor()
        with pytest.raises(pgwire.IntegrityError):
            cur.executemany(_INSERT_USER, [_user(i) for i in (10, 11, 10, 12)])
        conn.rollback()
        cur.execute('SELECT COUNT(*) FROM "public"."users"')
        assert cur.fetchall() == [(0,)]
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# COPY FROM STDIN bulk load
# ---------------------------------------------------------------------------


def test_live_copy_in_bulk_load(target_db):
    conn = target_db.connect()
    try:
        rows = [(i, f"First{i}", f"Last{i}", f"u{i}@example.com")
                for i in range(1, 1001)]
        n = conn.copy_in("users", ["id", "first_name", "last_name", "email"],
                         iter(rows))
        conn.commit()
        assert n == 1000
    finally:
        conn.close()
    check = target_db.connect()
    try:
        cur = check.cursor()
        cur.execute('SELECT COUNT(*), MIN("id"), MAX("id") FROM "public"."users"')
        assert cur.fetchall() == [(1000, 1, 1000)]
        cur.execute('SELECT "email" FROM "public"."users" WHERE "id" = 7')
        assert cur.fetchall() == [("u7@example.com",)]
    finally:
        check.close()


def test_live_copy_in_escaping_and_nulls(target_db):
    conn = target_db.connect()
    try:
        tricky = [
            (1, "Tab\there", "New\nline", None),
            (2, "Back\\slash", None, "ok@example.com"),
        ]
        conn.copy_in("users", ["id", "first_name", "last_name", "email"],
                     iter(tricky))
        conn.commit()
    finally:
        conn.close()
    check = target_db.connect()
    try:
        cur = check.cursor()
        cur.execute('SELECT "first_name", "last_name", "email" '
                    'FROM "public"."users" ORDER BY "id"')
        assert cur.fetchall() == [
            ("Tab\there", "New\nline", None),
            ("Back\\slash", None, "ok@example.com"),
        ]
    finally:
        check.close()


def test_live_copy_in_server_error_surfaces_and_aborts(target_db):
    conn = target_db.connect()
    try:
        with pytest.raises(Exception, match="duplicate key|violates"):
            conn.copy_in("users", ["id", "first_name", "last_name", "email"],
                         iter([(1, "A", "B", "a@b.c"), (1, "A", "B", "a@b.c")]))
        conn.rollback()
        # the connection survives and the table stayed empty
        cur = conn.cursor()
        cur.execute('SELECT COUNT(*) FROM "public"."users"')
        assert cur.fetchall() == [(0,)]
    finally:
        conn.close()


def test_live_pyds_write_uses_copy_fast_path(spark, target_db):
    from simple_anonymizer_spark.sources.pyds import PGWireDataSource

    spark.dataSource.register(PGWireDataSource)
    df = spark.createDataFrame(
        [(i, f"F{i}", f"L{i}", f"e{i}@x.y") for i in range(1, 301)],
        "id long, first_name string, last_name string, email string",
    )
    (df.write.format("pgwire")
       .options(**target_db.datasource_options())
       .option("table", "users")
       .mode("append").save())
    back = (spark.read.format("pgwire")
            .options(**target_db.datasource_options())
            .option("table", "users").load())
    assert back.count() == 300
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
