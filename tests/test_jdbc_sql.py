"""JDBC SQL-rendering goldens — the pure-function layer of the Postgres
source/sink (OnConflict ports of ``src/OnConflict.scala`` +
``src/CopyAction.scala:92-125``; quoting per ``src/SlickProfile.scala``)."""

from __future__ import annotations

import pytest

from simple_anonymizer_spark.plans.on_conflict import OnConflict
from simple_anonymizer_spark.sources import jdbc
from simple_anonymizer_spark.sources.catalog import quote_identifier


def test_quote_identifier_hostile_names():
    # it/TableCopierIntegrationTest.scala:182-216 — injection-safe naming.
    assert quote_identifier('weird"name') == '"weird""name"'
    assert quote_identifier("users; DROP TABLE x") == '"users; DROP TABLE x"'


def test_render_select_plain():
    sql = jdbc.render_select("users", ["id", "name"])
    assert sql == 'SELECT "id", "name" FROM "public"."users"'
    sql = jdbc.render_select("users", ["id", "name"], where_sql="id > 5")
    assert sql == 'SELECT "id", "name" FROM "public"."users" WHERE id > 5'


def test_render_insert_plain():
    sql = jdbc.render_insert("users", ["id", "name"])
    assert sql == 'INSERT INTO "public"."users" ("id", "name") VALUES (%s, %s)'


def test_on_conflict_do_nothing_with_columns():
    oc = OnConflict.do_nothing("email")
    sql = jdbc.render_insert("users", ["id", "email"], on_conflict=oc)
    assert sql.endswith('ON CONFLICT ("email") DO NOTHING')


def test_on_conflict_do_update_defaults_to_non_conflict_columns():
    oc = OnConflict.do_update("id")
    sql = jdbc.render_insert("users", ["id", "name", "email"], on_conflict=oc)
    assert sql.endswith(
        'ON CONFLICT ("id") DO UPDATE SET "name" = EXCLUDED."name", '
        '"email" = EXCLUDED."email"'
    )


def test_on_conflict_auto_pk_sorted():
    # CopyAction.scala:111 — PK conflict target columns sorted.
    oc = OnConflict.do_nothing()
    sql = jdbc.render_insert("t", ["a", "b"], on_conflict=oc,
                             primary_key=["b2", "a1"])
    assert 'ON CONFLICT ("a1", "b2") DO NOTHING' in sql


def test_on_conflict_named_constraint():
    oc = OnConflict.do_update(constraint="users_pkey")
    sql = jdbc.render_insert("users", ["id", "name"], on_conflict=oc)
    assert 'ON CONFLICT ON CONSTRAINT "users_pkey" DO UPDATE SET' in sql
    # constraint target -> no conflict-column exclusion: all columns update.
    assert '"id" = EXCLUDED."id"' in sql and '"name" = EXCLUDED."name"' in sql


def test_on_conflict_no_target_no_pk_raises():
    with pytest.raises(ValueError):
        OnConflict.do_nothing().render(["a"], [], quote_identifier)


def test_render_setval():
    sql = jdbc.render_setval("users_id_seq", "id", "users")
    assert sql == ("SELECT setval('users_id_seq', coalesce(max(\"id\"), 0) + 1, "
                   'false) FROM "public"."users"')


def test_constraint_deferral_roundtrip():
    assert jdbc.render_defer_constraint("emp", "emp_mgr_fk") == (
        'ALTER TABLE "public"."emp" ALTER CONSTRAINT "emp_mgr_fk" '
        "DEFERRABLE INITIALLY DEFERRED"
    )
    assert jdbc.render_restore_constraint("emp", "fk", False, False).endswith(
        "NOT DEFERRABLE")
    assert jdbc.render_restore_constraint("emp", "fk", True, False).endswith(
        "DEFERRABLE INITIALLY IMMEDIATE")
    assert jdbc.render_restore_constraint("emp", "fk", True, True).endswith(
        "DEFERRABLE INITIALLY DEFERRED")


def test_introspect_catalog_with_fake_connection():
    """Drive introspection through a fake DB-API connection."""

    class FakeCursor:
        def __init__(self):
            self.results = []

        def execute(self, sql, params=None):
            if "information_schema.tables" in sql:
                self.results = [("orders",), ("users",)]
            elif "information_schema.columns" in sql:
                self.results = [("users", "id", "integer"),
                                ("users", "email", "varchar"),
                                ("orders", "id", "integer"),
                                ("orders", "user_id", "integer")]
            elif "indisprimary" in sql:
                self.results = [("users", "id"), ("orders", "id")]
            elif "contype = 'f'" in sql:
                self.results = [("orders_user_fk", "orders", "users",
                                 "user_id", "id", 1)]
            elif "relkind = 'S'" in sql:
                self.results = [("users", "id", "users_id_seq")]

        def fetchall(self):
            return self.results

    class FakeConn:
        def cursor(self):
            return FakeCursor()

        def close(self):
            pass

    cat = jdbc.introspect_catalog(lambda: FakeConn())
    assert cat.tables == ("orders", "users")
    assert cat.primary_keys["users"] == frozenset({"id"})
    assert len(cat.foreign_keys) == 1
    fk = cat.foreign_keys[0]
    assert (fk.fk_table, fk.pk_table, fk.columns) == (
        "orders", "users", (("user_id", "id"),))
    assert cat.sequences[0].sequence_name == "users_id_seq"


def test_upsert_writer_batches_with_fake_connection():
    executed = []

    class FakeCursor:
        def executemany(self, sql, batch):
            executed.append((sql, list(batch)))

    class FakeConn:
        def cursor(self):
            return FakeCursor()

        def commit(self):
            executed.append(("COMMIT", None))

        def rollback(self):
            executed.append(("ROLLBACK", None))

        def close(self):
            pass

    write = jdbc.upsert_writer(
        lambda: FakeConn(), "users", ["id", "name"],
        on_conflict=OnConflict.do_nothing("id"), batch_size=2,
    )
    assert write(iter([{"id": 1, "name": "a"}, {"id": 2, "name": "b"},
                       {"id": 3, "name": "c"}])) == 3
    batches = [e for e in executed if e[0] != "COMMIT"]
    assert len(batches) == 2          # 2 + 1 rows
    assert batches[0][1] == [(1, "a"), (2, "b")]
    assert batches[1][1] == [(3, "c")]
    assert executed[-1][0] == "COMMIT"
