"""Postgres wire-layer integration suite, executed against the
protocol-level fake server (``sources/fakepg.py``).

Ports the reference's live-Postgres integration assertions —
``integration-tests/src/scala/simpleanonymizer/DbCopierIntegrationTest.scala``
and ``TableCopierIntegrationTest.scala`` — onto the real product write
path: ``introspect_catalog`` over the pg_catalog contract,
``SnapshotCoordinator`` + pinned partitioned reads through the engine's
one Postgres source (``spark.read.format("fakepg")``, the DataSource the
copy benchmark reads through as ``format("pgwire")``), ``DbCopier`` →
``write_jdbc`` → ``df.foreachPartition`` executing batched
``INSERT ... ON CONFLICT`` in executor processes, sequence resets, and
self-ref constraint deferral. The fixture schema/data mirror the
reference's ``01-schema.sql`` / ``02-data.sql``.
"""

from __future__ import annotations

import json
from decimal import Decimal
from functools import partial

import pytest

from simple_anonymizer_spark.functions import pyimpl as P
from simple_anonymizer_spark.plans import TableSpec
from simple_anonymizer_spark.plans.db_copier import DbCopier
from simple_anonymizer_spark.plans.on_conflict import OnConflict
from simple_anonymizer_spark.plans.table_copier import copy_table
from simple_anonymizer_spark.sources import fakepg
from simple_anonymizer_spark.sources.fakepg import FakePostgres, IntegrityError
from simple_anonymizer_spark.sources.jdbc import (
    SnapshotCoordinator,
    introspect_catalog,
    render_insert,
    upsert_writer,
    write_jdbc,
)
from simple_anonymizer_spark.sources.pyds import FakePGDataSource, PGWireDataSource

# ---------------------------------------------------------------------------
# Fixture database: the reference's integration schema + data
# (01-schema.sql / 02-data.sql)
# ---------------------------------------------------------------------------

USERS = [
    (1, "John", "Doe", "john.doe@example.com"),
    (2, "Jane", "Smith", "jane.smith@testmail.com"),
    (3, "Robert", "Johnson", "rjohnson@company.org"),
    (4, "Emily", "Williams", "emily.w@personal.net"),
    (5, "Michael", "Brown", "mbrown@workplace.com"),
    (6, "Sarah", "Davis", "sarah.davis@email.org"),
    (7, "David", "Miller", "dmiller@domain.com"),
    (8, "Jessica", "Wilson", "jwilson@business.net"),
    (9, "Christopher", "Moore", "cmoore@sample.org"),
    (10, "Amanda", "Taylor", "amanda.taylor@mail.com"),
]
CATEGORIES = [  # (id, name, owner_id, parent_id) — final state after UPDATEs
    (1, "Electronics", 1, None), (2, "Clothing", 2, None),
    (3, "Books", 3, None), (4, "Smartphones", 1, 1), (5, "Laptops", 1, 1),
    (6, "Tablets", 1, 1), (7, "Mens Clothing", 2, 2),
    (8, "Womens Clothing", 2, 2), (9, "Fiction", 1, 3),
    (10, "Non-Fiction", 3, 3),
]
EMPLOYEES = [  # (id, name, manager_id, mentor_id)
    (1, "CEO", None, None), (2, "VP Engineering", None, None),
    (3, "VP Sales", None, None), (4, "Alice", 1, 2), (5, "Bob", 1, 3),
    (6, "Carol", 2, 1),
]
TREE_NODES = [  # (group_id, position, label, parent_group_id, parent_position)
    (1, 1, "Root", None, None), (1, 2, "Child A", 1, 1),
    (1, 3, "Child B", 1, 1), (2, 3, "Branch", None, None),
    (2, 1, "Leaf X", 2, 3), (2, 2, "Leaf Y", 2, 3),
]
ORDERS = [  # (id, user_id, total, status)
    (1, 1, "299.99", "completed"), (2, 1, "149.50", "completed"),
    (3, 2, "89.99", "pending"), (4, 3, "1250.00", "completed"),
    (5, 3, "45.00", "cancelled"), (6, 4, "599.99", "shipped"),
    (7, 5, "199.99", "completed"), (8, 6, "79.50", "pending"),
    (9, 7, "349.00", "completed"), (10, 8, "425.75", "shipped"),
    (11, 9, "99.00", "completed"), (12, 10, "1599.99", "processing"),
]
ORDER_ITEMS = [  # (id, order_id, category_id, product_name, quantity)
    (1, 1, 4, "iPhone 15 Pro", 1), (2, 1, 4, "Phone Case", 2),
    (3, 2, 1, "Wireless Earbuds", 1), (4, 3, 7, "Cotton T-Shirt", 3),
    (5, 4, 5, "MacBook Pro 14 inch", 1), (6, 4, 1, "USB-C Cable", 2),
    (7, 4, 5, "Laptop Sleeve", 1), (8, 5, 10, "Programming Book", 1),
    (9, 6, 1, "Smart Watch", 1), (10, 6, 1, "Watch Band", 1),
    (11, 7, 7, "Running Shoes", 1), (12, 8, 8, "Summer Dress", 2),
    (13, 9, 1, "Bluetooth Speaker", 1), (14, 9, 1, "HDMI Cable", 1),
    (15, 10, 1, "Fitness Tracker", 1), (16, 11, 9, "Novel - Fiction", 2),
    (17, 12, 5, "Gaming Laptop", 1), (18, 3, 9, "Poetry Anthology", 1),
]
PROFILES = [  # (id, user_id, phones, settings)
    (1, 1, '[{"type":"mobile","number":"555-0101"},{"type":"home","number":"555-0102"}]',
     '{"theme":"dark","notifications":true,"language":"en"}'),
    (2, 2, '[{"type":"mobile","number":"555-0201"},{"type":"work","number":"555-0202"}]',
     '{"theme":"light","notifications":true,"language":"en"}'),
    (3, 3, '[{"type":"mobile","number":"555-0301"}]',
     '{"theme":"dark","notifications":false,"language":"es"}'),
    (4, 4, '[{"type":"mobile","number":"555-0401"},{"type":"home","number":"555-0402"},{"type":"work","number":"555-0403"}]',
     '{"theme":"auto","notifications":true,"language":"en"}'),
    (5, 5, '[{"type":"mobile","number":"555-0501"}]',
     '{"theme":"light","notifications":true,"language":"fr"}'),
    (6, 6, '[{"type":"work","number":"555-0601"}]',
     '{"theme":"dark","notifications":true,"language":"en"}'),
    (7, 7, '[{"type":"mobile","number":"555-0701"},{"type":"mobile","number":"555-0702"}]',
     '{"theme":"light","notifications":false,"language":"de"}'),
    (8, 8, '[{"type":"home","number":"555-0801"}]',
     '{"theme":"dark","notifications":true,"language":"en"}'),
]


def create_schema(db: FakePostgres) -> None:
    db.create_table("users", [("id", "integer"), ("first_name", "varchar(100)"),
                              ("last_name", "varchar(100)"), ("email", "varchar(200)")],
                    primary_key=["id"], serial="id")
    db.create_table("orders", [("id", "integer"), ("user_id", "integer"),
                               ("total", "numeric(10,2)"), ("status", "varchar(50)")],
                    primary_key=["id"], serial="id")
    db.create_table("categories", [("id", "integer"), ("name", "varchar(100)"),
                                   ("owner_id", "integer"), ("parent_id", "integer")],
                    primary_key=["id"], serial="id")
    db.create_table("order_items", [("id", "integer"), ("order_id", "integer"),
                                    ("category_id", "integer"),
                                    ("product_name", "varchar(200)"),
                                    ("quantity", "integer")],
                    primary_key=["id"], serial="id")
    db.create_table("employees", [("id", "integer"), ("name", "varchar(100)"),
                                  ("manager_id", "integer"), ("mentor_id", "integer")],
                    primary_key=["id"], serial="id")
    db.create_table("tree_nodes", [("group_id", "integer"), ("position", "integer"),
                                   ("label", "varchar(100)"),
                                   ("parent_group_id", "integer"),
                                   ("parent_position", "integer")],
                    primary_key=["group_id", "position"])
    db.create_table("profiles", [("id", "integer"), ("user_id", "integer"),
                                 ("phones", "jsonb"), ("settings", "jsonb")],
                    primary_key=["id"], serial="id")
    db.add_foreign_key("orders_user_id_fkey", "orders", ["user_id"], "users", ["id"])
    db.add_foreign_key("categories_owner_id_fkey", "categories", ["owner_id"], "users", ["id"])
    db.add_foreign_key("categories_parent_id_fkey", "categories", ["parent_id"], "categories", ["id"])
    db.add_foreign_key("order_items_order_id_fkey", "order_items", ["order_id"], "orders", ["id"])
    db.add_foreign_key("order_items_category_id_fkey", "order_items", ["category_id"], "categories", ["id"])
    db.add_foreign_key("employees_manager_id_fkey", "employees", ["manager_id"], "employees", ["id"])
    db.add_foreign_key("employees_mentor_id_fkey", "employees", ["mentor_id"], "employees", ["id"])
    db.add_foreign_key("tree_nodes_parent_fkey", "tree_nodes",
                       ["parent_group_id", "parent_position"],
                       "tree_nodes", ["group_id", "position"])
    db.add_foreign_key("profiles_user_id_fkey", "profiles", ["user_id"], "users", ["id"])


def load_data(db: FakePostgres) -> None:
    db.load("users", [dict(zip(("id", "first_name", "last_name", "email"), r)) for r in USERS])
    db.load("categories", [dict(zip(("id", "name", "owner_id", "parent_id"), r)) for r in CATEGORIES])
    db.load("employees", [dict(zip(("id", "name", "manager_id", "mentor_id"), r)) for r in EMPLOYEES])
    db.load("tree_nodes", [dict(zip(("group_id", "position", "label", "parent_group_id", "parent_position"), r)) for r in TREE_NODES])
    db.load("orders", [dict(zip(("id", "user_id", "total", "status"), r)) for r in ORDERS])
    db.load("order_items", [dict(zip(("id", "order_id", "category_id", "product_name", "quantity"), r)) for r in ORDER_ITEMS])
    db.load("profiles", [dict(zip(("id", "user_id", "phones", "settings"), r)) for r in PROFILES])


@pytest.fixture()
def source_db(tmp_path) -> FakePostgres:
    db = FakePostgres(str(tmp_path / "source.db"))
    create_schema(db)
    load_data(db)
    return db


@pytest.fixture()
def target_db(tmp_path) -> FakePostgres:
    db = FakePostgres(str(tmp_path / "target.db"))
    create_schema(db)
    return db


ALL_TABLES = ("users", "orders", "categories", "order_items", "employees",
              "tree_nodes", "profiles")


def table_reader(spark, db, **options):
    """``read(table) -> DataFrame`` through the engine's Postgres source,
    ``spark.read.format(db.datasource_format)`` (``fakepg`` or
    ``pgwire``), with extra read ``options`` (``snapshot_id``, ``where``,
    range partitioning). Reads are lazy: each action re-runs the scan."""
    spark.dataSource.register(FakePGDataSource)
    spark.dataSource.register(PGWireDataSource)
    base = {**db.datasource_options(),
            **{k: str(v) for k, v in options.items()}}

    def read(table):
        return (spark.read.format(db.datasource_format).options(**base)
                .option("table", table).load())

    return read


def make_copier(spark, source_db, target_db, specs, skipped=frozenset()):
    """Wire DbCopier to the backend through the product's own layers."""
    src_connect = source_db.connect_factory()
    tgt_connect = target_db.connect_factory()
    catalog = introspect_catalog(src_connect)
    coordinator = SnapshotCoordinator.export(src_connect)
    read = table_reader(spark, source_db, snapshot_id=coordinator.snapshot_id)

    def write_table(table, df):
        spec = specs.get(table, TableSpec())
        return write_jdbc(
            df, tgt_connect, table,
            on_conflict=spec.on_conflict,
            primary_key=sorted(catalog.primary_keys.get(table, ())),
            batch_size=spec.batch_size,
            catalog=catalog,
        )

    copier = DbCopier(catalog, read, write_table,
                      skipped_tables=set(skipped))
    return copier, coordinator, tgt_connect


def q1(connect, sql):
    """Run a verification query, return list of tuples."""
    conn = connect()
    try:
        cur = conn.cursor()
        cur.execute(sql)
        return cur.fetchall()
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# Server self-checks (the fake must behave before it can judge the product)
# ---------------------------------------------------------------------------


def test_fakepg_transactions_and_conflicts(source_db):
    conn = source_db.connect()
    cur = conn.cursor()
    cur.execute('INSERT INTO "public"."users" ("id", "first_name", "last_name", "email") '
                "VALUES (%s, %s, %s, %s)", (100, "A", "B", "a@b.c"))
    # uncommitted row visible to self, invisible to others
    assert q1(source_db.connect, "SELECT COUNT(*) FROM users") == [(10,)]
    cur.execute("SELECT COUNT(*) FROM users")
    assert cur.fetchone() == (11,)
    conn.rollback()
    cur2 = conn.cursor()
    cur2.execute("SELECT COUNT(*) FROM users")
    assert cur2.fetchone() == (10,)

    # duplicate key without ON CONFLICT
    with pytest.raises(IntegrityError, match="users_pkey"):
        cur2.execute('INSERT INTO "public"."users" ("id", "first_name", "last_name", "email") '
                     "VALUES (%s, %s, %s, %s)", (1, "X", "Y", "x@y.z"))
    conn.rollback()

    # FK violation is immediate by default
    with pytest.raises(IntegrityError, match="orders_user_id_fkey"):
        cur3 = conn.cursor()
        cur3.execute('INSERT INTO "public"."orders" ("id", "user_id", "total", "status") '
                     "VALUES (%s, %s, %s, %s)", (99, 999, "1.00", "x"))
    conn.close()


def test_fakepg_jsonb_canonicalization(source_db):
    # PG jsonb: duplicate keys last-wins, keys sorted by (length, bytes)
    rows = q1(source_db.connect, "SELECT phones FROM profiles WHERE id = 1")
    assert rows == [(
        '[{"type": "mobile", "number": "555-0101"}, '
        '{"type": "home", "number": "555-0102"}]',
    )]
    conn = source_db.connect()
    cur = conn.cursor()
    cur.execute('INSERT INTO "public"."profiles" ("id", "user_id", "phones", "settings") '
                "VALUES (%s, %s, %s, %s)",
                (50, 1, '{"bb": 1, "a": 2, "bb": 3}', "{}"))
    cur.execute("SELECT phones FROM profiles WHERE id = 50")
    assert cur.fetchone() == ('{"a": 2, "bb": 3}',)
    conn.rollback()
    conn.close()


def test_introspect_catalog_contract(source_db):
    catalog = introspect_catalog(source_db.connect_factory())
    assert catalog.tables == tuple(sorted(ALL_TABLES))
    assert catalog.primary_keys["tree_nodes"] == frozenset({"group_id", "position"})
    assert catalog.columns["users"] == ["id", "first_name", "last_name", "email"]
    fk_names = {fk.name for fk in catalog.foreign_keys}
    assert "tree_nodes_parent_fkey" in fk_names and len(fk_names) == 9
    composite = next(fk for fk in catalog.foreign_keys if fk.name == "tree_nodes_parent_fkey")
    assert composite.columns == (("parent_group_id", "group_id"),
                                 ("parent_position", "position"))
    assert composite.is_self_ref
    seqs = {(s.table_name, s.column_name, s.sequence_name) for s in catalog.sequences}
    assert ("users", "id", "users_id_seq") in seqs
    assert not any(s.table_name == "tree_nodes" for s in catalog.sequences)


# ---------------------------------------------------------------------------
# DbCopierIntegrationTest ports
# ---------------------------------------------------------------------------


def user_spec_anonymized():
    return TableSpec.select(lambda r: [
        r.first_name.map_string("first_name"),
        r.last_name.map_string("last_name"),
        r.email.map_string("email"),
    ])


def full_specs():
    return {
        "users": user_spec_anonymized(),
        "orders": TableSpec.select(lambda r: [r.status, r.total]),
        "order_items": TableSpec.select(lambda r: [r.product_name, r.quantity]),
        "profiles": TableSpec.select(lambda r: [
            r.phones.map_json_array(lambda o: o.number.map_string("phone_number")),
            r.settings,
        ]),
        "categories": TableSpec.select(lambda r: [r.name]),
        "employees": TableSpec.select(lambda r: [r.name]),
        "tree_nodes": TableSpec.select(lambda r: [r.label]),
    }


def test_pii_anonymization_across_all_tables(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:32-68: anonymize + subset users to 10."""
    specs = full_specs()
    specs["users"] = specs["users"].where("id <= 10")
    copier, coord, tgt = make_copier(spark, source_db, target_db, specs)
    try:
        result = copier.run(specs)
    finally:
        coord.close()
    assert result["users"] == 10
    assert result["categories"] == 10
    assert result["orders"] > 0
    assert result["profiles"] > 0
    [(first_name, email)] = q1(tgt, "SELECT first_name, email FROM users WHERE id = 1")
    # determinism: the exact values the pure-Python reference mirror computes
    # ("John" happens to be a fixed point of the frozen-list hash — the
    # contract is determinism, not inequality; email visibly anonymized).
    assert first_name == P.PY_ANONYMIZERS["first_name"]("John")
    assert email == P.PY_ANONYMIZERS["email"]("john.doe@example.com")
    assert "john" not in email
    [(jane,)] = q1(tgt, "SELECT first_name FROM users WHERE id = 2")
    assert jane == P.PY_ANONYMIZERS["first_name"]("Jane") != "Jane"


def test_fk_propagation_filters_children(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:96-118: users.where(id<=3) restricts
    orders through the FK."""
    specs = full_specs()
    specs["users"] = specs["users"].where("id <= 3")
    copier, coord, tgt = make_copier(spark, source_db, target_db, specs)
    try:
        result = copier.run(specs)
    finally:
        coord.close()
    assert result["users"] == 3
    user_ids = [r[0] for r in q1(tgt, "SELECT DISTINCT user_id FROM orders")]
    assert user_ids and all(u <= 3 for u in user_ids)


def test_self_ref_cross_table_propagation(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:120-156: Fiction passes the owner
    filter but its parent (Books, owner 3) doesn't — excluded by the
    closure; Poetry Anthology drops with it."""
    specs = {
        "users": TableSpec.select(lambda r: [r.first_name, r.last_name, r.email]).where("id <= 2"),
        "orders": TableSpec.select(lambda r: [r.status, r.total]),
        "order_items": TableSpec.select(lambda r: [r.product_name, r.quantity]),
        "categories": TableSpec.select(lambda r: [r.name]),
    }
    copier, coord, tgt = make_copier(
        spark, source_db, target_db, specs,
        skipped={"profiles", "employees", "tree_nodes"})
    try:
        result = copier.run(specs)
    finally:
        coord.close()
    assert result["users"] == 2
    category_ids = sorted(r[0] for r in q1(tgt, "SELECT id FROM categories"))
    assert category_ids == [1, 2, 4, 5, 6, 7, 8]
    poetry = q1(tgt, "SELECT product_name FROM order_items WHERE category_id = 9")
    assert poetry == []


def nulled_and_fixed_body(spark, source_db, target_db, fresh_target):
    """Backend-agnostic body (``fresh_target()`` supplies a second empty
    target database of the same backend)."""
    specs = {
        "users": TableSpec.select(lambda r: [r.first_name, r.email.nulled, r.last_name]),
        "categories": TableSpec.select(lambda r: [r.name]),
    }
    copier, coord, tgt = make_copier(
        spark, source_db, target_db, specs,
        skipped={"orders", "order_items", "profiles", "employees", "tree_nodes"})
    try:
        copier.run(specs)
    finally:
        coord.close()
    assert q1(tgt, "SELECT email FROM users WHERE email IS NOT NULL") == []

    # := constant replacement, into a fresh target
    fresh = fresh_target()
    specs2 = {
        "users": TableSpec.select(lambda r: [
            r.first_name, r.email.set_to("redacted@example.com"), r.last_name]),
        "categories": TableSpec.select(lambda r: [r.name]),
    }
    copier2, coord2, tgt2 = make_copier(
        spark, source_db, fresh, specs2,
        skipped={"orders", "order_items", "profiles", "employees", "tree_nodes"})
    try:
        copier2.run(specs2)
    finally:
        coord2.close()
    emails = q1(tgt2, "SELECT DISTINCT email FROM users")
    assert emails == [("redacted@example.com",)]


def test_nulled_and_fixed_values(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:159-209."""
    import os
    import tempfile

    def fresh_target():
        db = FakePostgres(os.path.join(tempfile.mkdtemp(), "t2.db"))
        create_schema(db)
        return db

    nulled_and_fixed_body(spark, source_db, target_db, fresh_target)


def test_jsonb_roundtrip_preserves_untargeted(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:212-240 + jsonb canonical order: the
    anonymized number lands back in a real jsonb column; untargeted keys
    and values survive the wire."""
    specs = full_specs()
    copier, coord, tgt = make_copier(
        spark, source_db, target_db, specs,
        skipped={"orders", "order_items", "employees", "tree_nodes"})
    try:
        copier.run({t: s for t, s in specs.items()
                    if t in ("users", "profiles", "categories")})
    finally:
        coord.close()
    [(phones,)] = q1(tgt, "SELECT phones FROM profiles WHERE id = 1")
    assert "555-0101" not in phones
    assert '"type"' in phones and "mobile" in phones
    parsed = json.loads(phones)
    assert [p["type"] for p in parsed] == ["mobile", "home"]
    assert parsed[0]["number"] == P.PY_ANONYMIZERS["phone_number"]("555-0101")
    # jsonb storage order: keys sorted by (length, bytes) — "type" < "number"
    assert phones.index('"type"') < phones.index('"number"')


def test_type_preservation(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:243-268: DECIMAL and INTEGER survive."""
    specs = {
        "users": TableSpec.select(lambda r: [r.first_name, r.last_name, r.email]),
        "orders": TableSpec.select(lambda r: [r.status, r.total]),
        "order_items": TableSpec.select(lambda r: [r.product_name, r.quantity]),
        "categories": TableSpec.select(lambda r: [r.name]),
    }
    copier, coord, tgt = make_copier(
        spark, source_db, target_db, specs,
        skipped={"profiles", "employees", "tree_nodes"})
    try:
        copier.run(specs)
    finally:
        coord.close()
    assert q1(tgt, "SELECT total FROM orders WHERE id = 1") == [(Decimal("299.99"),)]
    assert q1(tgt, "SELECT quantity FROM order_items WHERE id = 2") == [(2,)]


def test_on_conflict_do_update_and_do_nothing(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:306-388."""
    base = {
        "categories": TableSpec.select(lambda r: [r.name]),
        "users": TableSpec.select(lambda r: [r.first_name, r.last_name, r.email]).where("id = 1"),
    }
    skipped = {"orders", "order_items", "profiles", "employees", "tree_nodes"}
    copier, coord, tgt = make_copier(spark, source_db, target_db, base, skipped=skipped)
    try:
        copier.run(base)
    finally:
        coord.close()
    assert q1(tgt, "SELECT first_name FROM users WHERE id = 1") == [("John",)]
    [(cat_before,)] = q1(tgt, "SELECT COUNT(*) FROM categories")

    # second copy: doUpdate on users (name -> UPDATED), doNothing on categories
    second = {
        "categories": TableSpec.select(lambda r: [r.name])
        .with_on_conflict(OnConflict.do_nothing()),
        "users": TableSpec.select(lambda r: [
            r.first_name.map_string(lambda s: "UPDATED"), r.last_name, r.email,
        ]).where("id = 1").with_on_conflict(OnConflict.do_update()),
    }
    copier2, coord2, tgt2 = make_copier(spark, source_db, target_db, second, skipped=skipped)
    try:
        copier2.run(second)
    finally:
        coord2.close()
    assert q1(tgt, "SELECT first_name FROM users WHERE id = 1") == [("UPDATED",)]
    assert q1(tgt, "SELECT COUNT(*) FROM users WHERE id = 1") == [(1,)]
    [(cat_after,)] = q1(tgt, "SELECT COUNT(*) FROM categories")
    assert cat_after == cat_before

    # doNothing keeps existing rows, adds new ones
    third = {
        "categories": TableSpec.select(lambda r: [r.name]).with_on_conflict(OnConflict.do_nothing()),
        "users": TableSpec.select(lambda r: [r.first_name, r.last_name, r.email])
        .where("id <= 4").with_on_conflict(OnConflict.do_nothing()),
    }
    copier3, coord3, _ = make_copier(spark, source_db, target_db, third, skipped=skipped)
    try:
        copier3.run(third)
    finally:
        coord3.close()
    assert q1(tgt, "SELECT COUNT(*) FROM users") == [(4,)]
    # id=1 not overwritten back to John
    assert q1(tgt, "SELECT first_name FROM users WHERE id = 1") == [("UPDATED",)]


def test_sequence_reset_allows_insert_without_id(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:390-435 (both variants: dense and
    gapped ids)."""
    specs = {
        "users": TableSpec.select(lambda r: [r.first_name, r.last_name, r.email]).where("id <= 3"),
        "orders": TableSpec.select(lambda r: [r.status, r.total]),
        "categories": TableSpec.select(lambda r: [r.name]),
    }
    copier, coord, tgt = make_copier(
        spark, source_db, target_db, specs,
        skipped={"order_items", "profiles", "employees", "tree_nodes"})
    try:
        copier.run(specs)
    finally:
        coord.close()
    [(max_id,)] = q1(tgt, "SELECT MAX(id) FROM users")
    conn = tgt()
    cur = conn.cursor()
    cur.execute('INSERT INTO "public"."users" ("first_name", "last_name", "email") '
                "VALUES (%s, %s, %s) RETURNING id", ("New", "User", "new@test.com"))
    (new_id,) = cur.fetchone()
    conn.commit()
    conn.close()
    assert new_id > max_id


def test_limit_and_batch_size(spark, source_db, target_db):
    """DbCopierIntegrationTest.scala:437-459."""
    specs = {"users": TableSpec.select(lambda r: [r.first_name, r.last_name, r.email])
             .with_limit(3).with_batch_size(2)}
    copier, coord, tgt = make_copier(
        spark, source_db, target_db, specs,
        skipped={"orders", "order_items", "profiles", "categories", "employees", "tree_nodes"})
    try:
        result = copier.run(specs)
    finally:
        coord.close()
    assert result["users"] == 3
    assert q1(tgt, "SELECT COUNT(*) FROM users") == [(3,)]


# ---------------------------------------------------------------------------
# TableCopierIntegrationTest ports (single-table, no propagation)
# ---------------------------------------------------------------------------


def single_table_env(spark, source_db, target_db):
    src_connect = source_db.connect_factory()
    tgt_connect = target_db.connect_factory()
    catalog = introspect_catalog(src_connect)
    read = table_reader(spark, source_db)

    def write_for(spec):
        def write_table(table, df):
            return write_jdbc(df, tgt_connect, table,
                              on_conflict=spec.on_conflict,
                              primary_key=sorted(catalog.primary_keys.get(table, ())),
                              batch_size=spec.batch_size, catalog=catalog)
        return write_table

    return read, write_for, tgt_connect, catalog


def test_copy_table_self_ref_children_before_parents(spark, source_db, target_db):
    """TableCopierIntegrationTest.scala:123-165: self-ref tables copy with
    small batches regardless of row order — the deferral bracket at work.
    Also: without deferral, child-first insertion fails immediately."""
    read, write_for, tgt, catalog = single_table_env(spark, source_db, target_db)

    # Direct proof the constraint is real: child before parent, immediate mode.
    child_first = [
        {"id": 4, "name": "Smartphones", "owner_id": None, "parent_id": 1},
        {"id": 1, "name": "Electronics", "owner_id": None, "parent_id": None},
    ]
    writer = upsert_writer(tgt, "categories", ["id", "name", "owner_id", "parent_id"],
                           batch_size=1)
    with pytest.raises(IntegrityError, match="categories_parent_id_fkey"):
        writer(iter(child_first))

    # Through write_jdbc: deferral bracket + one-partition write succeeds.
    spec = TableSpec.select(lambda r: [r.id, r.name, r.parent_id]).with_batch_size(3)
    count = copy_table(read, write_for(spec), "categories", spec)
    assert count == 10
    [(children,)] = q1(tgt, "SELECT COUNT(*) FROM categories WHERE parent_id IS NOT NULL")
    assert children == 7
    # constraint restored to NOT DEFERRABLE after the bracket
    deferrable, initially_deferred = target_db.constraint_state(
        "categories_parent_id_fkey"
    )
    assert not deferrable and not initially_deferred


def test_copy_table_multi_fk_and_composite_self_ref(spark, source_db, target_db):
    """TableCopierIntegrationTest.scala:137-165."""
    read, write_for, tgt, _ = single_table_env(spark, source_db, target_db)
    spec = TableSpec.select(lambda r: [r.id, r.name, r.manager_id, r.mentor_id]).with_batch_size(2)
    assert copy_table(read, write_for(spec), "employees", spec) == 6
    assert q1(tgt, "SELECT COUNT(*) FROM employees WHERE manager_id IS NOT NULL") == [(3,)]
    assert q1(tgt, "SELECT COUNT(*) FROM employees WHERE mentor_id IS NOT NULL") == [(3,)]

    tree = TableSpec.select(lambda r: [r.group_id, r.position, r.label,
                                       r.parent_group_id, r.parent_position]).with_batch_size(2)
    assert copy_table(read, write_for(tree), "tree_nodes", tree) == 6
    assert q1(tgt, "SELECT COUNT(*) FROM tree_nodes WHERE parent_group_id IS NOT NULL") == [(4,)]


def hostile_identifier_body(spark, src, tgt_db):
    """Backend-agnostic body of the hostile-identifier test — the live-PG
    tier replays it against a real server (``tests/test_pg_live.py``)."""
    table = "users; DROP TABLE orders; --"
    column = "data; DELETE FROM users; --"
    for db in (src, tgt_db):
        create_schema(db)
        db.create_table(table, [("id", "integer"), (column, "varchar(100)")],
                        primary_key=["id"], serial="id")
    load_data(src)
    src.load(table, [{"id": 1, column: "test data 1"},
                     {"id": 2, column: "test data 2"}])

    tgt_connect = tgt_db.connect_factory()
    read = table_reader(spark, src)

    def write_table(t, df):
        return write_jdbc(df, tgt_connect, t, primary_key=["id"])

    from simple_anonymizer_spark.plans.output_column import SourceColumn
    spec = TableSpec(columns=(SourceColumn("id"), SourceColumn(column)))
    assert copy_table(read, write_table, table, spec) == 2
    assert q1(src.connect_factory(), "SELECT COUNT(*) FROM orders") == [(12,)]
    conn = tgt_connect()
    cur = conn.cursor()
    cur.execute('SELECT COUNT(*) FROM "users; DROP TABLE orders; --"')
    assert cur.fetchone() == (2,)
    conn.close()


def test_hostile_identifier_quoting(spark, tmp_path):
    """TableCopierIntegrationTest.scala:182-216: hostile table/column names
    round-trip safely through rendered SQL."""
    hostile_identifier_body(spark,
                            FakePostgres(str(tmp_path / "hostile_src.db")),
                            FakePostgres(str(tmp_path / "hostile_tgt.db")))


# ---------------------------------------------------------------------------
# Wire-layer semantics the reference asserts implicitly
# ---------------------------------------------------------------------------


def test_snapshot_pinned_partitioned_reads(spark, source_db):
    """src/DbCopier.scala:130-145: partitioned parallel reads, each opening
    its own connection inside the executor task, all see the exported
    snapshot, not concurrent commits; a fresh read sees the late row."""
    src_connect = source_db.connect_factory()
    coord = SnapshotCoordinator.export(src_connect)
    try:
        # concurrent writer commits after the snapshot
        conn = src_connect()
        cur = conn.cursor()
        cur.execute('INSERT INTO "public"."users" ("id", "first_name", "last_name", "email") '
                    "VALUES (%s, %s, %s, %s)", (999, "Late", "Writer", "late@x.y"))
        conn.commit()
        conn.close()

        pinned = table_reader(spark, source_db, snapshot_id=coord.snapshot_id,
                              partition_column="id", lower=1, upper=10,
                              num_partitions=3)
        df = pinned("users")
        assert df.rdd.getNumPartitions() == 3
        assert df.count() == 10
        assert df.filter("id = 999").count() == 0

        fresh = table_reader(spark, source_db)("users")
        assert fresh.count() == 11
        assert {r.first_name for r in fresh.where("id = 999").collect()} == {"Late"}
    finally:
        coord.close()


def test_pushdown_select_rendering(spark, source_db):
    """WHERE pushdown: the ``where`` read option runs inside the database
    (src/CopyAction.scala:72-84)."""
    df = table_reader(spark, source_db, where="id <= 8")("users")
    assert sorted(r.id for r in df.collect()) == list(range(1, 9))


def test_upsert_idempotent_under_task_retry(source_db, target_db):
    """src/CopyAction.scala:167-235: a retried partition (same rows, second
    transaction) must not duplicate or fail when ON CONFLICT is set."""
    tgt = target_db.connect_factory()
    rows = [{"id": i, "first_name": f"F{i}", "last_name": f"L{i}", "email": f"e{i}@x"}
            for i in range(1, 6)]
    cols = ["id", "first_name", "last_name", "email"]

    plain = upsert_writer(tgt, "users", cols, batch_size=2)
    plain(iter(rows))
    with pytest.raises(IntegrityError):  # retry without ON CONFLICT: duplicate key
        plain(iter(rows))

    retry_safe = upsert_writer(tgt, "users", cols,
                               on_conflict=OnConflict.do_nothing(),
                               primary_key=["id"], batch_size=2)
    retry_safe(iter(rows))  # no-op retry
    assert q1(tgt, "SELECT COUNT(*) FROM users") == [(5,)]

    upsert = upsert_writer(tgt, "users", cols,
                           on_conflict=OnConflict.do_update(),
                           primary_key=["id"], batch_size=2)
    upsert(iter([{"id": 1, "first_name": "NEW", "last_name": "L1", "email": "e1@x"}]))
    assert q1(tgt, "SELECT first_name FROM users WHERE id = 1") == [("NEW",)]
    assert q1(tgt, "SELECT COUNT(*) FROM users") == [(5,)]


def test_on_conflict_constraint_target(source_db, target_db):
    """ON CONFLICT ON CONSTRAINT "users_pkey" targets the named constraint
    (src/OnConflict.scala:25-31)."""
    tgt = target_db.connect_factory()
    cols = ["id", "first_name", "last_name", "email"]
    sql = render_insert("users", cols,
                        on_conflict=OnConflict.do_nothing(constraint="users_pkey"))
    conn = tgt()
    cur = conn.cursor()
    cur.execute(sql, (1, "A", "B", "a@b"))
    cur.execute(sql, (1, "A2", "B2", "a2@b"))  # skipped
    conn.commit()
    conn.close()
    assert q1(tgt, "SELECT first_name FROM users WHERE id = 1") == [("A",)]


def test_transaction_rollback_on_partition_failure(source_db, target_db):
    """upsert_writer rolls the whole partition back when any batch fails —
    no partial rows from a failed task."""
    tgt = target_db.connect_factory()
    cols = ["id", "first_name", "last_name", "email"]
    good_then_bad = [
        {"id": 1, "first_name": "A", "last_name": "B", "email": "a@b"},
        {"id": 1, "first_name": "DUP", "last_name": "X", "email": "x@y"},
    ]
    writer = upsert_writer(tgt, "users", cols, batch_size=1)
    with pytest.raises(IntegrityError):
        writer(iter(good_then_bad))
    assert q1(tgt, "SELECT COUNT(*) FROM users") == [(0,)]


def test_partitioned_read_covers_every_row_once(spark, source_db):
    """Range partitioning (Spark JDBC's columnPartition predicates: the
    first partition also takes NULLs, the last is unbounded) reads every
    row exactly once."""
    df = table_reader(spark, source_db, partition_column="id", lower=1,
                      upper=10, num_partitions=4)("users")
    assert df.rdd.getNumPartitions() == 4
    assert sorted(r.id for r in df.collect()) == list(range(1, 11))


def test_failed_write_restores_self_ref_deferral(spark, target_db):
    """write_jdbc restores a self-ref FK it deferred even when the write
    fails (src/ConstraintDeferrer.scala:45-65): a duplicate key with no
    ON CONFLICT fails the partition, and the constraint must be back to
    NOT DEFERRABLE afterwards."""
    tgt = target_db.connect_factory()
    dup = spark.createDataFrame(
        [(1, "Electronics", None, None), (1, "Again", None, None)],
        "id int, name string, owner_id int, parent_id int",
    )
    with pytest.raises(Exception, match="categories_pkey"):
        write_jdbc(dup, tgt, "categories", primary_key=["id"],
                   catalog=introspect_catalog(tgt))
    assert target_db.constraint_state("categories_parent_id_fkey") == (False, False)
    assert q1(tgt, "SELECT COUNT(*) FROM categories") == [(0,)]


def test_snapshot_covers_every_read_of_a_copy(spark, source_db, target_db):
    """src/DbCopier.scala:130-145 for a whole copy: reads are lazy and run
    whenever the copy's graph reaches a table (its pin or its write), so
    rows committed after the export must stay invisible to every read."""
    specs = full_specs()
    specs["users"] = specs["users"].where("id <> 2")
    copier, coord, tgt = make_copier(spark, source_db, target_db, specs)
    src = source_db.connect_factory()
    conn = src()
    cur = conn.cursor()
    cur.execute('INSERT INTO "public"."users" ("id", "first_name", "last_name", "email") '
                "VALUES (%s, %s, %s, %s)", (11, "Late", "Writer", "late@x.y"))
    cur.execute('INSERT INTO "public"."orders" ("id", "user_id", "total", "status") '
                "VALUES (%s, %s, %s, %s)", (100, 1, "1.00", "late"))
    cur.execute('INSERT INTO "public"."order_items" ("id", "order_id", "category_id", '
                '"product_name", "quantity") VALUES (%s, %s, %s, %s, %s)',
                (100, 1, 1, "Late Item", 1))
    conn.commit()
    conn.close()
    try:
        result = copier.run(specs)
    finally:
        coord.close()
    assert q1(src, "SELECT COUNT(*) FROM users") == [(11,)]

    users = [u[0] for u in USERS if u[0] != 2]
    orders = [o[0] for o in ORDERS if o[1] != 2]
    assert result["users"] == len(users) and result["orders"] == len(orders)
    assert sorted(r[0] for r in q1(tgt, "SELECT id FROM users")) == users
    assert sorted(r[0] for r in q1(tgt, "SELECT id FROM orders")) == orders
    assert q1(tgt, "SELECT COUNT(*) FROM order_items WHERE id = 100") == [(0,)]
