"""Semantic equivalence of the two filter-propagation implementations.

The engine ships propagation twice: the reference-shaped SQL renderer
(IN subqueries + WITH RECURSIVE), which only these tests execute, and
the Spark-native semi-join/closure form (used for DataFrame execution).
These tests generate randomized data (seeded) for chain/diamond/self-ref
schemas, execute the RENDERED SQL in DuckDB and the DataFrame form in
Spark, and require identical surviving row sets per table.
"""

from __future__ import annotations

import functools
import random

import duckdb
import pytest

from simple_anonymizer_spark.plans import propagation
from simple_anonymizer_spark.plans.propagation import (apply_subsetting,
                                                       compute_propagated_filters)
from simple_anonymizer_spark.plans.table_spec import WhereClause
from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK


def fk(child, child_col, parent, parent_col):
    return LogicalFK(None, child, parent, ((child_col, parent_col),))


def _duck_effective_rows(tables_data, fks, explicit, order):
    """Execute explicit + rendered-propagated WHERE clauses in DuckDB."""
    con = duckdb.connect()
    for name, (cols, rows) in tables_data.items():
        col_defs = ", ".join(f"{c} INTEGER" for c in cols)
        con.execute(f"CREATE TABLE {name} ({col_defs})")
        if rows:
            placeholders = ", ".join("?" for _ in cols)
            con.executemany(
                f"INSERT INTO {name} VALUES ({placeholders})", rows
            )
    propagated = compute_propagated_filters(
        order, fks, {t: WhereClause.single(sql) for t, sql in explicit.items()}
    )
    out = {}
    for name, (cols, _) in tables_data.items():
        clauses = []
        if name in explicit:
            clauses.append(explicit[name])
        if name in propagated:
            clauses.append(propagated[name].render())
        where = (" WHERE " + " AND ".join(f"({c})" for c in clauses)) if clauses else ""
        id_col = cols[0]
        out[name] = sorted(
            r[0] for r in con.execute(
                f"SELECT {id_col} FROM {name}{where}").fetchall()
        )
    return out


def _spark_effective_rows(spark, tables_data, fks, explicit):
    dfs = {}
    pks = {}
    for name, (cols, rows) in tables_data.items():
        schema = ", ".join(f"{c} int" for c in cols)
        dfs[name] = spark.createDataFrame(rows or [], schema)
        pks[name] = {cols[0]}
    catalog = Catalog.declared(
        columns={t: list(cols) for t, (cols, _) in tables_data.items()},
        primary_keys=pks,
        foreign_keys=fks,
    )
    out = apply_subsetting(dfs, catalog, explicit)
    return {
        name: sorted(r[0] for r in out[name].collect())
        for name in tables_data
    }


def _random_chain_case(seed):
    rng = random.Random(seed)
    n_users = rng.randint(3, 12)
    users = [(i,) for i in range(1, n_users + 1)]
    orders = []
    for oid in range(1, rng.randint(5, 20)):
        parent = rng.choice([None] + [u[0] for u in users])
        orders.append((oid, parent))
    items = []
    for iid in range(1, rng.randint(5, 25)):
        parent = rng.choice([None] + [o[0] for o in orders])
        items.append((iid, parent))
    tables = {
        "users": (["id"], users),
        "orders": (["id", "user_id"], orders),
        "order_items": (["id", "order_id"], items),
    }
    fks = [fk("orders", "user_id", "users", "id"),
           fk("order_items", "order_id", "orders", "id")]
    threshold = rng.randint(1, n_users)
    explicit = {"users": f"id <= {threshold}"}
    if rng.random() < 0.5:
        explicit["orders"] = f"id % 2 = {rng.randint(0, 1)}"
    return tables, fks, explicit, ["users", "orders", "order_items"]


@pytest.mark.parametrize("seed", range(8))
def test_chain_equivalence(spark, seed):
    tables, fks, explicit, order = _random_chain_case(seed)
    duck = _duck_effective_rows(tables, fks, explicit, order)
    got = _spark_effective_rows(spark, tables, fks, explicit)
    assert got == duck, f"seed={seed}: {got} != {duck}"


def _random_selfref_case(seed):
    rng = random.Random(seed)
    n = rng.randint(4, 15)
    rows = []
    for i in range(1, n + 1):
        parent = None if (i <= 2 or rng.random() < 0.25) else rng.randint(1, i - 1)
        rows.append((i, parent))
    tables = {"cats": (["id", "parent_id"], rows)}
    fks = [fk("cats", "parent_id", "cats", "id")]
    excluded = rng.randint(1, n)
    explicit = {"cats": f"id <> {excluded}"}
    return tables, fks, explicit, ["cats"]


@pytest.mark.parametrize("seed", range(8))
def test_selfref_equivalence(spark, seed):
    tables, fks, explicit, order = _random_selfref_case(seed)
    duck = _duck_effective_rows(tables, fks, explicit, order)
    got = _spark_effective_rows(spark, tables, fks, explicit)
    assert got == duck, f"seed={seed}: {got} != {duck}"


@pytest.mark.parametrize("seed", range(8))
def test_selfref_equivalence_cte(spark, seed, monkeypatch):
    """The same cases with every closure on the recursive-CTE path."""
    monkeypatch.setattr(propagation, "self_ref_closure", functools.partial(
        propagation.self_ref_closure, driver_threshold=0))
    tables, fks, explicit, order = _random_selfref_case(seed)
    duck = _duck_effective_rows(tables, fks, explicit, order)
    got = _spark_effective_rows(spark, tables, fks, explicit)
    assert got == duck, f"seed={seed}: {got} != {duck}"


def test_diamond_with_selfref_equivalence(spark):
    """Diamond + self-ref combination: users -> (orders, categories-with-
    self-ref) -> order_items, mirroring the reference's full fixture."""
    rng = random.Random(99)
    users = [(i,) for i in range(1, 9)]
    cats = []
    for i in range(1, 12):
        owner = rng.choice([u[0] for u in users])
        parent = None if i <= 3 else rng.randint(1, i - 1)
        cats.append((i, owner, parent))
    orders = [(i, rng.choice([None, 1, 2, 3, 4, 5, 6, 7, 8])) for i in range(1, 15)]
    items = [
        (i, rng.choice([o[0] for o in orders]), rng.choice([c[0] for c in cats]))
        for i in range(1, 25)
    ]
    tables = {
        "users": (["id"], users),
        "categories": (["id", "owner_id", "parent_id"], cats),
        "orders": (["id", "user_id"], orders),
        "order_items": (["id", "order_id", "category_id"], items),
    }
    fks = [
        fk("orders", "user_id", "users", "id"),
        fk("categories", "owner_id", "users", "id"),
        fk("categories", "parent_id", "categories", "id"),
        fk("order_items", "order_id", "orders", "id"),
        fk("order_items", "category_id", "categories", "id"),
    ]
    explicit = {"users": "id <= 4"}
    order = ["users", "categories", "orders", "order_items"]
    duck = _duck_effective_rows(tables, fks, explicit, order)
    got = _spark_effective_rows(spark, tables, fks, explicit)
    assert got == duck
