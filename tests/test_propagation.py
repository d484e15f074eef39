"""Filter propagation — SQL golden ports of ``tests/FilterPropagationTest.scala``
plus DataFrame subsetting with the Fiction/Poetry edge cases (FIXTURES.md)."""

from __future__ import annotations

import pytest

from simple_anonymizer_spark.plans.propagation import (apply_subsetting,
                                                       compute_propagated_filters,
                                                       self_ref_closure)
from simple_anonymizer_spark.plans.table_spec import WhereClause
from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK


def fk(child, child_col, parent, parent_col, name=None):
    return LogicalFK(name, child, parent, ((child_col, parent_col),))


# ---------- SQL goldens (FilterPropagationTest.scala) ----------

def test_no_explicit_filters_in_output():
    filters = compute_propagated_filters(
        ["users"], [], {"users": WhereClause.single("active = true")}
    )
    assert "users" not in filters


def test_propagates_through_chain():
    fks = [fk("orders", "user_id", "users", "id"),
           fk("order_items", "order_id", "orders", "id")]
    filters = compute_propagated_filters(
        ["users", "orders", "order_items"], fks,
        {"users": WhereClause.single("active = true")},
    )
    assert "users" not in filters
    assert filters["orders"].render() == \
        '"user_id" IN (SELECT "id" FROM "users" WHERE active = true)'
    assert '"order_id" IN (SELECT "id" FROM "orders" WHERE' in filters["order_items"].render()


def test_omits_unfiltered():
    filters = compute_propagated_filters(
        ["users", "categories"], [], {"users": WhereClause.single("active = true")}
    )
    assert filters == {} or "categories" not in filters


def test_multiple_parents_and():
    fks = [fk("order_items", "order_id", "orders", "id"),
           fk("order_items", "product_id", "products", "id")]
    filters = compute_propagated_filters(
        ["orders", "products", "order_items"], fks,
        {"orders": WhereClause.single("status = 'active'"),
         "products": WhereClause.single("available = true")},
    )
    clauses = filters["order_items"].fragments
    assert len(clauses) == 2
    assert any('"order_id" IN (SELECT "id" FROM "orders" WHERE status = \'active\')' in c
               for c in clauses)
    assert any('"product_id" IN (SELECT "id" FROM "products" WHERE available = true)' in c
               for c in clauses)


def test_multiple_clause_parent_parenthesized():
    fks = [fk("orders", "user_id", "users", "id")]
    filters = compute_propagated_filters(
        ["users", "orders"], fks,
        {"users": WhereClause(("active = true", "role = 'admin'"))},
    )
    assert filters["orders"].render() == \
        '"user_id" IN (SELECT "id" FROM "users" WHERE (active = true) AND (role = \'admin\'))'


def test_self_ref_ctes_independent():
    # FilterPropagationTest.scala:82-107
    fks = [fk("employees", "manager_id", "employees", "id", "fk_manager"),
           fk("employees", "mentor_id", "employees", "id", "fk_mentor")]
    filters = compute_propagated_filters(
        ["employees"], fks, {"employees": WhereClause.single("active = true")}
    )
    clauses = filters["employees"].fragments
    assert len(clauses) == 2
    for c in clauses:
        assert c.count("WITH RECURSIVE") == 1
        assert "active = true" in c


def test_composite_fk_tuple_in():
    composite = LogicalFK(None, "tree_nodes", "tree_nodes",
                          (("parent_group_id", "group_id"),
                           ("parent_position", "position")))
    filters = compute_propagated_filters(
        ["tree_nodes"], [composite], {"tree_nodes": WhereClause.single("group_id = 1")}
    )
    sql = filters["tree_nodes"].render()
    assert '("parent_group_id", "parent_position") IN' in sql
    assert '"parent_group_id" IS NULL AND "parent_position" IS NULL' in sql


# ---------- DataFrame subsetting (FIXTURES.md semantic fixtures) ----------

@pytest.fixture(scope="module")
def fixture_dfs(spark):
    users = spark.createDataFrame(
        [(i, f"user{i}") for i in range(1, 11)], "id int, name string"
    )
    # categories: 3 roots, children; Fiction(9, owner 1, parent Books(3, owner 3))
    cats = spark.createDataFrame(
        [
            (1, "Electronics", 1, None), (2, "Clothing", 2, None),
            (3, "Books", 3, None), (4, "Phones", 1, 1), (5, "Laptops", 2, 1),
            (6, "Shirts", 1, 2), (7, "Pants", 2, 2), (8, "Accessories", 1, 4),
            (9, "Fiction", 1, 3), (10, "Nonfiction", 3, 3),
        ],
        "id int, name string, owner_id int, parent_id int",
    )
    orders = spark.createDataFrame(
        [(1, 1, "done"), (2, 1, "open"), (3, 2, "done"), (4, 3, "open"),
         (5, 4, "done"), (6, 5, "open")],
        "id int, user_id int, status string",
    )
    order_items = spark.createDataFrame(
        [(1, 1, 4, "Phone"), (2, 2, 5, "Laptop"), (3, 3, 9, "Poetry Anthology"),
         (4, 3, 6, "Shirt"), (5, 4, 7, "Pants"), (6, 5, 8, "Case")],
        "id int, order_id int, category_id int, product_name string",
    )
    return {"users": users, "categories": cats, "orders": orders,
            "order_items": order_items}


@pytest.fixture(scope="module")
def fixture_catalog():
    return Catalog.declared(
        columns={
            "users": ["id", "name"],
            "categories": ["id", "name", "owner_id", "parent_id"],
            "orders": ["id", "user_id", "status"],
            "order_items": ["id", "order_id", "category_id", "product_name"],
        },
        primary_keys={t: {"id"} for t in ["users", "categories", "orders", "order_items"]},
        foreign_keys=[
            fk("orders", "user_id", "users", "id"),
            fk("categories", "owner_id", "users", "id"),
            fk("categories", "parent_id", "categories", "id"),
            fk("order_items", "order_id", "orders", "id"),
            fk("order_items", "category_id", "categories", "id"),
        ],
    )


def test_fiction_edge_case(fixture_dfs, fixture_catalog):
    """Subsetting users to id <= 2: Fiction (9) passes the cross-table
    filter (owner 1) but its parent Books (3, owner 3) does not — the
    self-ref closure must exclude it. Expected ids {1,2,4,5,6,7,8}
    (FIXTURES.md; it/DbCopierIntegrationTest.scala:139-146)."""
    out = apply_subsetting(fixture_dfs, fixture_catalog, {"users": "id <= 2"})
    cat_ids = sorted(r.id for r in out["categories"].collect())
    assert cat_ids == [1, 2, 4, 5, 6, 7, 8]


def test_poetry_edge_case(fixture_dfs, fixture_catalog):
    """Poetry Anthology (order 3 → user 2 passes, category 9 Fiction
    excluded) must be dropped; diamond AND semantics hold."""
    out = apply_subsetting(fixture_dfs, fixture_catalog, {"users": "id <= 2"})
    items = sorted(r.id for r in out["order_items"].collect())
    # orders surviving: user_id <= 2 -> orders 1,2,3. categories surviving
    # {1,2,4,5,6,7,8}. items: 1 (o1,c4 ok), 2 (o2,c5 ok), 3 (o3,c9 DROP),
    # 4 (o3,c6 ok), 5 (o4 drop), 6 (o5 drop).
    assert items == [1, 2, 4]


def test_unfiltered_passthrough(fixture_dfs, fixture_catalog):
    out = apply_subsetting(fixture_dfs, fixture_catalog, {})
    assert out["categories"].count() == 10
    assert out["order_items"].count() == 6


def test_null_fk_dropped_under_cross_table_filter(spark, fixture_catalog):
    """SQL IN semantics: rows with NULL FK drop when the parent is filtered."""
    users = spark.createDataFrame([(1, "a")], "id int, name string")
    orders = spark.createDataFrame(
        [(1, 1, "x"), (2, None, "y")], "id int, user_id int, status string"
    )
    cat = Catalog.declared(
        columns={"users": ["id", "name"], "orders": ["id", "user_id", "status"]},
        primary_keys={"users": {"id"}, "orders": {"id"}},
        foreign_keys=[fk("orders", "user_id", "users", "id")],
    )
    out = apply_subsetting({"users": users, "orders": orders}, cat, {"users": "id = 1"})
    assert [r.id for r in out["orders"].collect()] == [1]


@pytest.mark.parametrize("threshold", [0, 50_000])
def test_self_ref_closure_depth(spark, threshold):
    """Chain 1<-2<-3<-4 with filter excluding 3: closure = {1,2}; row 4
    (parent 3 not reachable) must drop even though 4 passes the filter.
    threshold=0 forces the recursive CTE; 50k the driver BFS."""
    df = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 3)], "id int, parent_id int"
    )
    f = fk("t", "parent_id", "t", "id")
    base = df.where("id != 3")
    closure = self_ref_closure(base, f, driver_threshold=threshold)
    assert sorted(r.id for r in closure.collect()) == [1, 2]


def test_self_ref_closure_empty_roots(spark):
    """No NULL-parent rows under the filter -> empty closure, both paths."""
    df = spark.createDataFrame([(1, None), (2, 1)], "id int, parent_id int")
    f = fk("t", "parent_id", "t", "id")
    base = df.where("id != 1")
    for threshold in (0, 50_000):
        assert self_ref_closure(base, f, driver_threshold=threshold).count() == 0


def test_cte_closure_deep_chain_hostile_names(spark):
    """The CTE path past Spark's default recursion level limit (100), with
    PK/FK names that would break SQL text: a 160-node chain cut at node
    151 closes over exactly nodes 1..150."""
    df = spark.createDataFrame(
        [(1, None)] + [(i, i - 1) for i in range(2, 161)],
        "`node id` int, `up``link {x}` int",
    )
    f = fk("t", "up`link {x}", "t", "node id")
    base = df.where("`node id` != 151").localCheckpoint(eager=True)
    closure = self_ref_closure(base, f, driver_threshold=0)
    assert closure.columns == ["node id"]
    assert sorted(r[0] for r in closure.collect()) == list(range(1, 151))


def test_subsetting_hostile_key_names(spark):
    """A filtered self-ref table whose PK/FK names hold a space and a
    backtick, with one child: the closure and the child's semi-join on
    the parent's pin take the names literally."""
    nodes = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, None), (5, 4)],
        "`node`` id` int, `up``link` int",
    )
    leaves = spark.createDataFrame(
        [(10, 1), (11, 3), (12, 4), (13, 5)], "id int, `node`` id` int")
    cat = Catalog.declared(
        columns={"nodes": ["node` id", "up`link"], "leaves": ["id", "node` id"]},
        primary_keys={"nodes": {"node` id"}, "leaves": {"id"}},
        foreign_keys=[fk("nodes", "up`link", "nodes", "node` id"),
                      fk("leaves", "node` id", "nodes", "node` id")],
    )
    out = apply_subsetting({"nodes": nodes, "leaves": leaves}, cat,
                           {"nodes": "`node`` id` <> 2"})
    assert sorted(r[0] for r in out["nodes"].collect()) == [1, 4, 5]
    assert sorted(r.id for r in out["leaves"].collect()) == [10, 12, 13]


def test_cascade_delete_hostile_key_names(spark):
    """Cascade deletion selects the surviving parents' keys by their
    literal names."""
    from simple_anonymizer_spark.plans.deletion import cascade_delete

    parent = spark.createDataFrame([(1,), (2,)], "`p``id` int")
    child = spark.createDataFrame([(10, 1), (11, 2)], "cid int, `p``ref` int")
    cat = Catalog.declared(
        columns={"parent": ["p`id"], "child": ["cid", "p`ref"]},
        primary_keys={"parent": {"p`id"}, "child": {"cid"}},
        foreign_keys=[fk("child", "p`ref", "parent", "p`id")],
    )
    out = cascade_delete({"parent": parent, "child": child}, cat,
                         {"parent": "`p``id` = 2"})
    assert [r.cid for r in out["child"].collect()] == [10]


def test_cte_closure_ignores_session_row_limit(spark):
    """A closure larger than ``spark.sql.cteRecursionRowLimit`` stays
    complete: the CTE ends in ``LIMIT ALL``."""
    key = "spark.sql.cteRecursionRowLimit"
    old = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        df = spark.createDataFrame(
            [(1, None)] + [(i, i // 2) for i in range(2, 101)],
            "id int, parent_id int",
        ).localCheckpoint(eager=True)
        f = fk("t", "parent_id", "t", "id")
        closure = self_ref_closure(df, f, driver_threshold=0)
        assert sorted(r.id for r in closure.collect()) == list(range(1, 101))
    finally:
        spark.conf.set(key, old)


def test_composite_self_ref_closure(spark):
    """tree_nodes-style composite-key closure."""
    df = spark.createDataFrame(
        [
            (1, 1, None, None), (1, 2, 1, 1), (1, 3, 1, 2),
            (2, 1, None, None), (2, 2, 2, 1),
        ],
        "group_id int, position int, parent_group_id int, parent_position int",
    )
    f = LogicalFK(None, "t", "t", (("parent_group_id", "group_id"),
                                   ("parent_position", "position")))
    cat = Catalog.declared(
        columns={"t": ["group_id", "position", "parent_group_id", "parent_position"]},
        primary_keys={"t": {"group_id", "position"}},
        foreign_keys=[f],
    )
    out = apply_subsetting({"t": df}, cat, {"t": "group_id = 1"})
    got = sorted((r.group_id, r.position) for r in out["t"].collect())
    assert got == [(1, 1), (1, 2), (1, 3)]


# ---------------------------------------------------------------------------
# Cascade deletion (plans/deletion.py) — the subsetting dual
# ---------------------------------------------------------------------------


def test_cascade_delete_null_fk_and_null_predicate(spark):
    from simple_anonymizer_spark.plans.deletion import (
        cascade_delete, deletion_audit)
    from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK

    catalog = Catalog.declared(
        columns={"parent": ["pid", "bal"], "child": ["cid", "pid"]},
        primary_keys={"parent": {"pid"}},
        foreign_keys=[LogicalFK(None, "child", "parent", (("pid", "pid"),))],
    )
    parent = spark.createDataFrame(
        [(1, -5.0), (2, 10.0), (3, None)], "pid long, bal double"
    )
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, None)], "cid long, pid long"
    )
    out = cascade_delete(
        {"parent": parent, "child": child}, catalog, {"parent": "bal < 0"}
    )
    # parent 1 deleted (bal<0); parent 3 KEPT (NULL predicate is not TRUE).
    assert sorted(r.pid for r in out["parent"].collect()) == [2, 3]
    # child 10 cascades away; child 12 (NULL FK) survives.
    assert sorted(r.cid for r in out["child"].collect()) == [11, 12]
    audit = {r.table_name: r for r in deletion_audit(
        {"parent": parent, "child": child}, catalog, {"parent": "bal < 0"}
    ).collect()}
    assert audit["parent"].rows_deleted == 1
    assert audit["child"].rows_surviving == 2


def test_cascade_delete_selfref_subtree(spark):
    from simple_anonymizer_spark.plans.deletion import cascade_delete
    from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK

    catalog = Catalog.declared(
        columns={"emp": ["eid", "mgr"]},
        primary_keys={"emp": {"eid"}},
        foreign_keys=[LogicalFK(None, "emp", "emp", (("mgr", "eid"),))],
    )
    # 1 <- 2 <- 3 <- 4 chain plus an independent root 10 <- 11.
    emp = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 3), (10, None), (11, 10)],
        "eid long, mgr long",
    )
    out = cascade_delete({"emp": emp}, catalog, {"emp": "eid = 2"})
    # Deleting 2 severs 3 and 4 (transitively); the other tree survives.
    assert sorted(r.eid for r in out["emp"].collect()) == [1, 10, 11]
