"""Source-scan bound of the whole-database copy.

``DbCopier.run`` must read each source table exactly once: a filtered
table that other rows depend on (children or a self-ref FK) is read into
one pin of its subset rows, from which its closures, its write and its
children's semi-joins all derive, and every other table is read by its
write. No
descendant may re-read an ancestor, no self-ref closure step may re-read
its table, and the Parquet sink must not read its output back. Scans are
counted from Spark's SQL status store (populated with the UI disabled)
and attributed to a table by the ``<table>.parquet`` file name in the
scan's ``Location``. Spark truncates that string at
``spark.sql.maxMetadataStringLength`` (100) characters, so inputs live
under short directories, and every Parquet scan must be attributed (an
unattributed one fails the test rather than going uncounted).
"""

from __future__ import annotations

import functools
import re

import duckdb
import pytest
from pyspark.sql import functions as F

import test_pg_integration as T
from simple_anonymizer_spark.plans import TableSpec
from simple_anonymizer_spark.plans import deletion, propagation
from simple_anonymizer_spark.plans.db_copier import DbCopier
from simple_anonymizer_spark.plans.propagation import compute_propagated_filters
from simple_anonymizer_spark.plans.table_spec import WhereClause
from simple_anonymizer_spark.queries import _tpch_catalog
from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK
from simple_anonymizer_spark.sources.parquet import parquet_reader, parquet_writer

_TABLE_FILE = re.compile(r"/(\w+)\.parquet\]")


class ScanCounter:
    """Parquet scan nodes per source table in SQL executions that start
    after construction."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        self._start = max(self._execution_ids(), default=-1)

    def _execution_ids(self) -> list[int]:
        self._sc.listenerBus().waitUntilEmpty()
        return [e.executionId()
                for e in self._conv.asJava(self._store.executionsList())]

    def per_table(self) -> dict[str, int]:
        counts: dict[str, int] = {}
        for eid in self._execution_ids():
            if eid <= self._start:
                continue
            graph = self._store.planGraph(eid)
            for node in self._conv.asJava(graph.allNodes()):
                if not node.name().startswith("Scan parquet"):
                    continue
                m = _TABLE_FILE.search(node.desc())
                assert m, f"unattributed parquet scan: {node.desc()[:300]}"
                counts[m.group(1)] = counts.get(m.group(1), 0) + 1
        return counts


def passthrough_specs(catalog: Catalog, where: dict[str, str]) -> dict[str, TableSpec]:
    specs = {}
    for t in catalog.tables:
        spec = TableSpec.select(
            lambda r, cols=catalog.columns[t]: [getattr(r, c) for c in cols])
        specs[t] = spec.where(where[t]) if t in where else spec
    return specs


def read_output(spark, out_dir: str, table: str, cols: list[str]) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.parquet(f"{out_dir}/{table}")
                  .select(*cols).collect())


# ---------------------------------------------------------------------------
# TPC-H chain: region filter, self-ref customer referrer forest
# ---------------------------------------------------------------------------

_REFERRER_SQL = "CASE WHEN c_custkey <= 8 THEN NULL ELSE c_custkey div 2 END"


def test_tpch_chain_copy_scans_each_table_exactly_once(spark, sf_dir, tmp_path):
    tpch = _tpch_catalog()
    referrer = LogicalFK(None, "customer", "customer", (("c_referrer", "c_custkey"),))
    catalog = Catalog.declared(
        columns={**tpch.columns,
                 "customer": tpch.columns["customer"] + ["c_referrer"]},
        primary_keys=tpch.primary_keys,
        foreign_keys=list(tpch.foreign_keys) + [referrer],
    )
    source = parquet_reader(spark, sf_dir)

    def read(t):
        df = source(t).select(*tpch.columns[t])
        if t == "customer":
            df = df.withColumn("c_referrer", F.expr(_REFERRER_SQL).cast("bigint"))
        return df

    where = {"region": "r_regionkey = 0"}
    out_dir = str(tmp_path / "out")
    counter = ScanCounter(spark)
    result = DbCopier(catalog, read, parquet_writer(spark, out_dir)).run(
        passthrough_specs(catalog, where))
    assert counter.per_table() == {t: 1 for t in catalog.tables}

    # Row sets equal the reference's rendered SQL (IN subqueries + WITH
    # RECURSIVE) executed by DuckDB over the same files.
    con = duckdb.connect()
    for t in catalog.tables:
        cols = ", ".join(tpch.columns[t])
        extra = f", CAST({_REFERRER_SQL.replace('div', '//')} AS BIGINT) AS c_referrer" \
            if t == "customer" else ""
        con.execute(f"CREATE VIEW {t} AS SELECT {cols}{extra} "
                    f"FROM read_parquet('{sf_dir}/{t}.parquet')")
    order = ["region", "nation", "customer", "orders", "lineitem"]
    propagated = compute_propagated_filters(
        order, list(catalog.foreign_keys),
        {t: WhereClause.single(w) for t, w in where.items()})
    keys = {"region": ["r_regionkey"], "nation": ["n_nationkey"],
            "customer": ["c_custkey"], "orders": ["o_orderkey"],
            "lineitem": ["l_orderkey", "l_linenumber"]}
    for t in order:
        clauses = [c for c in (where.get(t), propagated.get(t)) if c is not None]
        sql_where = " AND ".join(
            f"({c if isinstance(c, str) else c.render()})" for c in clauses)
        expected = sorted(con.execute(
            f"SELECT {', '.join(keys[t])} FROM {t}"
            + (f" WHERE {sql_where}" if sql_where else "")).fetchall())
        assert result[t] == len(expected), t
        assert read_output(spark, out_dir, t, keys[t]) == expected, t
    # The closure really dropped customers whose referrer chain leaves the
    # region, so the self-ref path is exercised, not vacuous.
    in_region = con.execute(
        "SELECT count(*) FROM customer WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 0)").fetchone()[0]
    assert 0 < result["customer"] < in_region


# ---------------------------------------------------------------------------
# FIXTURES.md 7-table catalog: Fiction, Poetry Anthology, dual self-ref
# employees, composite self-ref tree_nodes
# ---------------------------------------------------------------------------

FIXTURE_SCHEMAS = {
    "users": ("id int, first_name string, last_name string, email string", T.USERS),
    "orders": ("id int, user_id int, total string, status string", T.ORDERS),
    "categories": ("id int, name string, owner_id int, parent_id int", T.CATEGORIES),
    "order_items": ("id int, order_id int, category_id int, product_name string, "
                    "quantity int", T.ORDER_ITEMS),
    "employees": ("id int, name string, manager_id int, mentor_id int", T.EMPLOYEES),
    "tree_nodes": ("group_id int, position int, label string, parent_group_id int, "
                   "parent_position int", T.TREE_NODES),
    "profiles": ("id int, user_id int, phones string, settings string", T.PROFILES),
}


def fk(name, child, cols, parent, pk_cols):
    return LogicalFK(name, child, parent, tuple(zip(cols, pk_cols)))


FIXTURE_CATALOG = Catalog.declared(
    columns={t: [c.split()[0] for c in ddl.split(", ")]
             for t, (ddl, _) in FIXTURE_SCHEMAS.items()},
    primary_keys={**{t: {"id"} for t in FIXTURE_SCHEMAS},
                  "tree_nodes": {"group_id", "position"}},
    foreign_keys=[
        fk("orders_user_id_fkey", "orders", ["user_id"], "users", ["id"]),
        fk("categories_owner_id_fkey", "categories", ["owner_id"], "users", ["id"]),
        fk("categories_parent_id_fkey", "categories", ["parent_id"], "categories", ["id"]),
        fk("order_items_order_id_fkey", "order_items", ["order_id"], "orders", ["id"]),
        fk("order_items_category_id_fkey", "order_items", ["category_id"],
           "categories", ["id"]),
        fk("employees_manager_id_fkey", "employees", ["manager_id"], "employees", ["id"]),
        fk("employees_mentor_id_fkey", "employees", ["mentor_id"], "employees", ["id"]),
        fk("tree_nodes_parent_fkey", "tree_nodes",
           ["parent_group_id", "parent_position"], "tree_nodes", ["group_id", "position"]),
        fk("profiles_user_id_fkey", "profiles", ["user_id"], "users", ["id"]),
    ],
)


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    # Short directory: the scan Location must keep the file name in its
    # first 100 characters.
    d = str(tmp_path_factory.mktemp("fx"))
    for t, (ddl, rows) in FIXTURE_SCHEMAS.items():
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(f"{d}/{t}.parquet")
    return d


def test_fixture_catalog_copy_scans_and_edge_cases(spark, fixture_dir, tmp_path):
    where = {"users": "id <= 2", "employees": "id <> 2",
             "tree_nodes": "label <> 'Branch'"}
    out_dir = str(tmp_path / "out")
    counter = ScanCounter(spark)
    result = DbCopier(FIXTURE_CATALOG, parquet_reader(spark, fixture_dir),
                      parquet_writer(spark, out_dir)).run(
        passthrough_specs(FIXTURE_CATALOG, where))
    assert counter.per_table() == {t: 1 for t in FIXTURE_CATALOG.tables}

    expected = {
        "users": [(1,), (2,)],
        "orders": [(1,), (2,), (3,)],
        # Fiction (9) passes the owner filter, but its parent Books (3,
        # owner 3) does not: the closure drops it.
        "categories": [(i,) for i in (1, 2, 4, 5, 6, 7, 8)],
        # Poetry Anthology (18: order 3 kept, category 9 dropped) drops.
        "order_items": [(1,), (2,), (3,), (4,)],
        "profiles": [(1,), (2,)],
        # Dual self-ref: Alice (4, mentor 2) and Carol (6, manager 2)
        # each lose one chain, and both closures must hold.
        "employees": [(1,), (3,), (5,)],
        # Composite self-ref: the Branch root is filtered, its leaves drop.
        "tree_nodes": [(1, 1), (1, 2), (1, 3)],
    }
    for t, rows in expected.items():
        cols = sorted(FIXTURE_CATALOG.primary_keys[t])
        assert read_output(spark, out_dir, t, cols) == rows, t
        assert result[t] == len(rows), t


@pytest.mark.parametrize("cte", [False, True], ids=["driver_bfs", "cte"])
def test_cascade_delete_reads_self_ref_table_once(spark, fixture_dir, monkeypatch, cte):
    """Cascade deletion into a self-ref table pins its hit rows once: the
    closure probe, the closure (per CTE level too) and the survivors'
    collect read the pin, not the source table or its parent's join."""
    if cte:
        monkeypatch.setattr(deletion, "self_ref_closure", functools.partial(
            propagation.self_ref_closure, driver_threshold=0))
    source = parquet_reader(spark, fixture_dir)
    counter = ScanCounter(spark)
    out = deletion.cascade_delete(
        {t: source(t) for t in ("users", "categories")}, FIXTURE_CATALOG,
        {"users": "id = 3"})
    # Books (3) and Non-Fiction (10) are owned by user 3; Fiction (9) is
    # under Books, so the closure drops it.
    assert sorted(r.id for r in out["categories"].collect()) == [1, 2, 4, 5, 6, 7, 8]
    assert counter.per_table() == {"users": 1, "categories": 1}
