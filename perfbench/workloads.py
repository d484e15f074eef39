"""The benchmark workloads: whole-database copies through ``DbCopier.run``.

Each workload owns its inputs, its expected output and its output check:

* ``prepare`` builds the inputs from the seed and computes the expected
  per-table row counts and key checksums once, in DuckDB, from the same
  inputs (semi-joins for FK propagation, ``WITH RECURSIVE`` for self-ref
  closures) — an engine that shares no code with the copy;
* ``reset`` puts the sink back to its pre-pass state, outside the timing;
* ``run_pass`` is the timed work: one user-level copy, writes included;
* ``check`` returns the list of ways the pass output is wrong: per-table
  counts and checksums, FK integrity of the output, and a seeded sample
  of anonymized values that must equal the ``functions.pyimpl`` mirror
  of the source value (and not all equal the source).

``tracer`` is None on untraced passes; on traced passes the workload
wraps the callables it hands to ``DbCopier`` and patches the module
functions ``DbCopier.run`` calls, so their spans nest under the pass.
"""

from __future__ import annotations

import functools
import os
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from simple_anonymizer_spark.functions import pyimpl as P
from simple_anonymizer_spark.plans import TableSpec, coverage
from simple_anonymizer_spark.plans import db_copier, propagation
from simple_anonymizer_spark.plans.db_copier import DbCopier
from simple_anonymizer_spark.plans.on_conflict import OnConflict
from simple_anonymizer_spark.sources import pgwire
from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK
from simple_anonymizer_spark.sources.jdbc import (
    SnapshotCoordinator,
    introspect_catalog,
    write_jdbc,
)
from simple_anonymizer_spark.sources.parquet import parquet_reader, parquet_writer
from simple_anonymizer_spark.sources.pyds import PGWireDataSource

from . import datagen
from .counters import PgCounters
from .pgserver import PgServer
from .trace import Tracer

SAMPLE = 16  # anonymized values checked per column per pass


@dataclass(frozen=True)
class Anon:
    """One column anonymized by a built-in; ``key`` (comma-separated)
    joins output rows to source rows."""
    table: str
    key: str
    column: str
    anonymizer: str

    def mirror(self, value: str) -> str:
        return P.PY_ANONYMIZERS[self.anonymizer](value)


def compare_sample(a: Anon, rows: list[tuple]) -> list[str]:
    """``rows`` are (output value, source value) pairs. Every output value
    must equal the mirror; a picker may map a value to itself, so only a
    sample in which nothing changed counts as not anonymized."""
    if not rows:
        return [f"{a.table}.{a.column}: no rows to sample"]
    bad = [(o, s) for o, s in rows if o != a.mirror(s)]
    if bad:
        return [f"{a.table}.{a.column}: {len(bad)}/{len(rows)} sampled values "
                f"differ from the mirror, e.g. {bad[0]}"]
    if all(o == s for o, s in rows):
        return [f"{a.table}.{a.column}: no sampled value was anonymized"]
    return []


def patch_copier_layers(tracer: Tracer) -> None:
    """Spans around the plan layers ``DbCopier.run`` calls into."""
    tracer.patch(db_copier, "apply_subsetting", "propagation")
    tracer.patch(propagation, "self_ref_closure", "closure")
    tracer.patch(db_copier, "apply_spec", "compiler.apply_spec")
    tracer.patch(db_copier, "sort_tables", "table_sorter")
    tracer.patch(coverage, "validate", "coverage")


def _key_sql(keys: tuple[str, ...]) -> str:
    """Integer checksum term of a (possibly composite) key."""
    if len(keys) == 1:
        return f"CAST({keys[0]} AS HUGEINT)"
    return f"CAST({keys[0]} AS HUGEINT) * 1000003 + {keys[1]}"


# ---------------------------------------------------------------------------
# Parquet -> Parquet subset chain
# ---------------------------------------------------------------------------

TPCH_TABLES = ("region", "nation", "customer", "orders", "lineitem")
TPCH_PKS = {"region": {"r_regionkey"}, "nation": {"n_nationkey"},
            "customer": {"c_custkey"}, "orders": {"o_orderkey"},
            "lineitem": {"l_orderkey", "l_linenumber"}}
TPCH_FKS = [
    LogicalFK(None, "nation", "region", (("n_regionkey", "r_regionkey"),)),
    LogicalFK(None, "customer", "nation", (("c_nationkey", "n_nationkey"),)),
    LogicalFK(None, "customer", "customer", (("c_referrer", "c_custkey"),)),
    LogicalFK(None, "orders", "customer", (("o_custkey", "c_custkey"),)),
    LogicalFK(None, "lineitem", "orders", (("l_orderkey", "o_orderkey"),)),
]


class SubsetChainParquet:
    """region -> nation -> customer (self-ref referrer forest) -> orders ->
    lineitem, filtered on 2 seed-chosen regions. Inputs under ``input/``;
    output through the product's ``parquet_writer`` under ``output/``."""

    tables = TPCH_TABLES

    def __init__(self, spark, work: str, seed: int, sizes: dict, nproc: int):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.input_dir = os.path.join(work, "input")
        self.output_dir = os.path.join(work, "output")
        self.pg_counters = None
        columns = datagen.tpch_tables(0, customers=16, orders_per_customer=1,
                                      lines_per_order=1)
        self.catalog = Catalog.declared(
            columns={t: columns[t].column_names for t in self.tables},
            primary_keys=TPCH_PKS, foreign_keys=TPCH_FKS)
        self.keys = {t: tuple(sorted(TPCH_PKS[t])) for t in self.tables}
        picked = np.random.default_rng([seed, 9]).choice(
            datagen.N_REGIONS, 2, replace=False)
        self.regions = ", ".join(str(int(r)) for r in sorted(picked))
        self.anonymized = [
            Anon("customer", "c_custkey", "c_name", "full_name"),
            Anon("customer", "c_custkey", "c_phone", "phone_number"),
            Anon("orders", "o_orderkey", "o_clerk", "full_name"),
        ]

    def specs(self) -> dict[str, TableSpec]:
        li = [c for c in self.catalog.columns["lineitem"]
              if c not in ("l_orderkey", "l_linenumber")]
        return {
            "region": TableSpec.select(lambda r: [r.r_name])
                .where(f"r_regionkey IN ({self.regions})"),
            "nation": TableSpec.select(lambda r: [r.n_name]),
            "customer": TableSpec.select(lambda r: [
                r.c_name.map_string("full_name"),
                r.c_phone.map_string("phone_number"),
                r.c_acctbal, r.c_mktsegment]),
            "orders": TableSpec.select(lambda r: [
                r.o_orderstatus, r.o_totalprice, r.o_orderdate,
                r.o_orderpriority, r.o_clerk.map_string("full_name")]),
            "lineitem": TableSpec.select(lambda r: [r[c] for c in li]),
        }

    def expected_ctes(self) -> str:
        return f"""
        x_region AS (SELECT * FROM region WHERE r_regionkey IN ({self.regions})),
        x_nation AS (SELECT * FROM nation WHERE n_regionkey IN
                     (SELECT r_regionkey FROM x_region)),
        c_base AS (SELECT * FROM customer WHERE c_nationkey IN
                   (SELECT n_nationkey FROM x_nation)),
        reach(k) AS (
            SELECT c_custkey FROM c_base WHERE c_referrer IS NULL
            UNION
            SELECT c.c_custkey FROM c_base c JOIN reach r ON c.c_referrer = r.k),
        x_customer AS (SELECT * FROM c_base WHERE c_referrer IS NULL
                       OR c_referrer IN (SELECT k FROM reach)),
        x_orders AS (SELECT * FROM orders WHERE o_custkey IN
                     (SELECT c_custkey FROM x_customer)),
        x_lineitem AS (SELECT * FROM lineitem WHERE l_orderkey IN
                       (SELECT o_orderkey FROM x_orders))"""

    # -- inputs -----------------------------------------------------------

    def start(self) -> None:
        pass

    def prepare(self) -> None:
        tabs = datagen.tpch_tables(self.seed, **self.sizes)
        shutil.rmtree(self.input_dir, ignore_errors=True)
        os.makedirs(self.input_dir)
        for t in self.tables:
            pq.write_table(tabs[t], os.path.join(self.input_dir, f"{t}.parquet"))
        self.source_rows = sum(tabs[t].num_rows for t in self.tables)
        with duckdb.connect() as con:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.input_dir}/{t}.parquet')")
            self.expected = {
                t: tuple(int(v) for v in con.execute(
                    f"WITH RECURSIVE {self.expected_ctes()} "
                    f"SELECT count(*), coalesce(sum({_key_sql(self.keys[t])}), 0) "
                    f"FROM x_{t}").fetchone())
                for t in self.tables
            }

    # -- the pass ----------------------------------------------------------

    def reset(self) -> None:
        shutil.rmtree(self.output_dir, ignore_errors=True)

    def run_pass(self, tracer: Tracer | None) -> dict:
        read = parquet_reader(self.spark, self.input_dir)
        write = parquet_writer(self.spark, self.output_dir)
        if tracer is not None:
            patch_copier_layers(tracer)
            read = tracer.wrap("source.read_table", read)
            write = tracer.wrap("sink.write_table", write)
        copier = DbCopier(self.catalog, read, write)
        if tracer is None:
            return copier.run(self.specs())
        with tracer.span("copier.run"):
            return copier.run(self.specs())

    def finish_pass(self) -> None:
        pass

    def close(self) -> None:
        pass

    def out_bytes(self) -> tuple[int, int]:
        """(bytes, files) of the Parquet output."""
        sizes = [os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(self.output_dir)
                 for f in fs if f.endswith(".parquet")]
        return sum(sizes), len(sizes)

    # -- the check -----------------------------------------------------------

    def check(self, result: dict) -> list[str]:
        errors = []
        with duckdb.connect() as con:
            for t in self.tables:
                con.execute(f"CREATE VIEW out_{t} AS SELECT * FROM read_parquet("
                            f"'{self.output_dir}/{t}/*.parquet')")
                con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM read_parquet("
                            f"'{self.input_dir}/{t}.parquet')")
            for t in self.tables:
                got = tuple(int(v) for v in con.execute(
                    f"SELECT count(*), coalesce(sum({_key_sql(self.keys[t])}), 0) "
                    f"FROM out_{t}").fetchone())
                if got != self.expected[t]:
                    errors.append(f"{t}: (rows, key sum) {got} != {self.expected[t]}")
                if result.get(t) != self.expected[t][0]:
                    errors.append(f"{t}: copier reported {result.get(t)} rows")
            for fk in self.catalog.foreign_keys:
                on = " AND ".join(f"p.{pc} = c.{fc}" for fc, pc in fk.columns)
                orphans = con.execute(
                    f"SELECT count(*) FROM out_{fk.fk_table} c WHERE "
                    f"c.{fk.fk_columns[0]} IS NOT NULL AND NOT EXISTS "
                    f"(SELECT 1 FROM out_{fk.pk_table} p WHERE {on})").fetchone()[0]
                if orphans:
                    errors.append(f"{fk.fk_table}->{fk.pk_table}: {orphans} orphans")
            for a in self.anonymized:
                rows = con.execute(
                    f"SELECT o.{a.column}, s.{a.column} FROM out_{a.table} o "
                    f"JOIN src_{a.table} s USING ({a.key}) "
                    f"WHERE s.{a.column} IS NOT NULL "
                    f"ORDER BY hash({a.key} + {self.seed}), {a.key} "
                    f"LIMIT {SAMPLE}").fetchall()
                errors += compare_sample(a, rows)
        return errors


# ---------------------------------------------------------------------------
# Postgres -> Postgres upsert copy
# ---------------------------------------------------------------------------

PG_DDL = """
CREATE TABLE users (id SERIAL PRIMARY KEY, first_name VARCHAR(100),
  last_name VARCHAR(100), email VARCHAR(200));
CREATE TABLE orders (id SERIAL PRIMARY KEY, user_id INTEGER REFERENCES users(id),
  total DECIMAL(10,2), status VARCHAR(50));
CREATE TABLE categories (id SERIAL PRIMARY KEY, name VARCHAR(100),
  owner_id INTEGER REFERENCES users(id), parent_id INTEGER REFERENCES categories(id));
CREATE TABLE order_items (id SERIAL PRIMARY KEY, order_id INTEGER REFERENCES orders(id),
  category_id INTEGER REFERENCES categories(id), product_name VARCHAR(200),
  quantity INTEGER);
CREATE TABLE employees (id SERIAL PRIMARY KEY, name VARCHAR(100),
  manager_id INTEGER REFERENCES employees(id), mentor_id INTEGER REFERENCES employees(id));
CREATE TABLE tree_nodes (group_id INTEGER NOT NULL, position INTEGER NOT NULL,
  label VARCHAR(100), parent_group_id INTEGER, parent_position INTEGER,
  PRIMARY KEY (group_id, position),
  CONSTRAINT tree_nodes_parent_fkey FOREIGN KEY (parent_group_id, parent_position)
    REFERENCES tree_nodes(group_id, position));
CREATE TABLE profiles (id SERIAL PRIMARY KEY, user_id INTEGER REFERENCES users(id),
  phones JSONB, settings JSONB);
"""
PG_COLUMNS = {
    "users": ("id", "first_name", "last_name", "email"),
    "orders": ("id", "user_id", "total", "status"),
    "categories": ("id", "name", "owner_id", "parent_id"),
    "order_items": ("id", "order_id", "category_id", "product_name", "quantity"),
    "employees": ("id", "name", "manager_id", "mentor_id"),
    "tree_nodes": ("group_id", "position", "label", "parent_group_id",
                   "parent_position"),
    "profiles": ("id", "user_id", "phones", "settings"),
}
PG_KEYS = {t: ("group_id", "position") if t == "tree_nodes" else ("id",)
           for t in PG_COLUMNS}
# (child, fk columns, parent) — the FK graph of PG_DDL.
PG_FKS = [
    ("orders", ("user_id",), "users"),
    ("categories", ("owner_id",), "users"),
    ("categories", ("parent_id",), "categories"),
    ("order_items", ("order_id",), "orders"),
    ("order_items", ("category_id",), "categories"),
    ("employees", ("manager_id",), "employees"),
    ("employees", ("mentor_id",), "employees"),
    ("tree_nodes", ("parent_group_id", "parent_position"), "tree_nodes"),
    ("profiles", ("user_id",), "users"),
]
# Column that marks a pre-seeded stale row, and its stale value.
PG_STALE = {"users": ("first_name", "stale"), "orders": ("status", "stale"),
            "categories": ("name", "stale"), "order_items": ("product_name", "stale"),
            "employees": ("name", "stale"), "tree_nodes": ("label", "stale"),
            "profiles": ("settings", '{"stale": true}')}


# Range partitions per table read. Each is a Python task with its own
# connection; at 15k source rows two keep the pass short and steady.
PG_READ_PARTITIONS = 2
PG_INT_COLUMNS = {"id", "user_id", "owner_id", "parent_id", "order_id",
                  "category_id", "quantity", "manager_id", "mentor_id",
                  "group_id", "position", "parent_group_id", "parent_position"}


def _arrow(table: str, rows: list[tuple]) -> pa.Table:
    """Generated rows as an Arrow table for DuckDB (DECIMAL and JSONB
    columns stay text, exactly as they were loaded)."""
    cols = PG_COLUMNS[table]
    return pa.table({
        c: pa.array([r[i] for r in rows],
                    pa.int64() if c in PG_INT_COLUMNS else pa.string())
        for i, c in enumerate(cols)})


def _closed_under_fks(chosen: dict[str, dict[tuple, tuple]]) -> None:
    """Drop chosen rows whose FK parent is not chosen, to a fixpoint."""
    changed = True
    while changed:
        changed = False
        for child, fk_cols, parent in PG_FKS:
            cols = PG_COLUMNS[child]
            idx = [cols.index(c) for c in fk_cols]
            for key, row in list(chosen[child].items()):
                ref = tuple(row[i] for i in idx)
                if ref[0] is not None and ref not in chosen[parent]:
                    del chosen[child][key]
                    changed = True


class PgUpsertCopy:
    """FIXTURES.md-shaped schema in a live Postgres: snapshot-pinned
    ``format("pgwire")`` reads, ``write_jdbc`` ON CONFLICT DO UPDATE into a
    target pre-seeded with stale copies of about half the expected rows."""

    tables = tuple(PG_COLUMNS)

    def __init__(self, spark, work: str, seed: int, sizes: dict, nproc: int):
        self.spark = spark
        self.seed = seed
        self.users = sizes["users"]
        self.nproc = nproc
        self.server = PgServer(os.path.join(work, "pg"))
        self.pg_counters: PgCounters | None = None
        self.coordinator: SnapshotCoordinator | None = None
        rng = np.random.default_rng([seed, 4])
        self.user_cut = self.users // 2 + int(rng.integers(-self.users // 10,
                                                            self.users // 10))

    def start(self) -> None:
        self.server.start()
        self._sql("postgres", "CREATE EXTENSION pg_stat_statements")
        for db in ("src", "tgt"):
            self._sql("postgres", f"CREATE DATABASE {db}")
            self._sql(db, PG_DDL)
        self.pg_counters = PgCounters(self.server, "src", "tgt")
        self.spark.dataSource.register(PGWireDataSource)

    def close(self) -> None:
        try:
            self.finish_pass()
        finally:
            self.server.stop()

    def _sql(self, db: str, sql: str) -> list[tuple]:
        """Run ``;``-separated statements, each in its own transaction;
        returns the last statement's rows."""
        conn = self.server.connect(db)
        conn.autocommit = True
        try:
            cur = conn.cursor()
            rows = []
            for stmt in filter(str.strip, sql.split(";")):
                cur.execute(stmt)
                rows = cur.fetchall() if cur.description else []
            return rows
        finally:
            conn.close()

    def _load(self, db: str, rows: dict[str, list[tuple]]) -> None:
        conn = self.server.connect(db)
        try:
            cur = conn.cursor()
            cur.execute("TRUNCATE " + ", ".join(self.tables))
            for t in self.tables:
                conn.copy_in(t, list(PG_COLUMNS[t]), rows[t])
            conn.commit()
        finally:
            conn.close()

    def prepare(self) -> None:
        self.rows = datagen.fixture_tables(self.seed, self.users)
        self._load("src", self.rows)
        self.source_rows = sum(len(r) for r in self.rows.values())
        self.bounds = {t: (1, len(self.rows[t])) for t in self.tables}
        with duckdb.connect() as con:
            for t in self.tables:
                con.register(f"arrow_{t}", _arrow(t, self.rows[t]))
                con.execute(f"CREATE TABLE {t} AS SELECT * FROM arrow_{t}")
            expected_rows = {
                t: con.execute(f"WITH RECURSIVE {self.expected_ctes()} "
                               f"SELECT * FROM x_{t} "
                               f"ORDER BY {', '.join(PG_KEYS[t])}").fetchall()
                for t in self.tables}
        self.expected = {
            t: (len(r), sum(_key_value(t, row) for row in r))
            for t, r in expected_rows.items()}
        # Stale pre-seed: a seeded half of the expected rows, closed under
        # FKs, with the marker column overwritten.
        rng = np.random.default_rng([self.seed, 5])
        chosen = {t: {tuple(row[i] for i in _key_idx(t)): row
                      for row in r if rng.random() < 0.5}
                  for t, r in expected_rows.items()}
        _closed_under_fks(chosen)
        self.stale = {}
        for t in self.tables:
            col, value = PG_STALE[t]
            i = PG_COLUMNS[t].index(col)
            self.stale[t] = [tuple(value if j == i else v
                                   for j, v in enumerate(row))
                             for row in chosen[t].values()]

    def expected_ctes(self) -> str:
        return f"""
        x_users AS (SELECT * FROM users WHERE id <= {self.user_cut}),
        x_orders AS (SELECT * FROM orders WHERE user_id IN (SELECT id FROM x_users)),
        cat_base AS (SELECT * FROM categories WHERE owner_id IN
                     (SELECT id FROM x_users)),
        cat_reach(k) AS (
            SELECT id FROM cat_base WHERE parent_id IS NULL
            UNION
            SELECT c.id FROM cat_base c JOIN cat_reach r ON c.parent_id = r.k),
        x_categories AS (SELECT * FROM cat_base WHERE parent_id IS NULL
                         OR parent_id IN (SELECT k FROM cat_reach)),
        x_order_items AS (SELECT * FROM order_items
                          WHERE order_id IN (SELECT id FROM x_orders)
                          AND category_id IN (SELECT id FROM x_categories)),
        x_employees AS (SELECT * FROM employees),
        x_tree_nodes AS (SELECT * FROM tree_nodes),
        x_profiles AS (SELECT * FROM profiles WHERE user_id IN
                       (SELECT id FROM x_users))"""

    def specs(self) -> dict[str, TableSpec]:
        upsert = OnConflict.do_update()
        specs = {
            "users": TableSpec.select(lambda r: [
                r.first_name.map_string("first_name"),
                r.last_name.map_string("last_name"),
                r.email.map_string("email")]).where(f"id <= {self.user_cut}"),
            "orders": TableSpec.select(lambda r: [r.status, r.total]),
            "categories": TableSpec.select(lambda r: [r.name]),
            "order_items": TableSpec.select(lambda r: [r.product_name, r.quantity]),
            "employees": TableSpec.select(lambda r: [r.name.map_string("full_name")]),
            "tree_nodes": TableSpec.select(lambda r: [r.label]),
            "profiles": TableSpec.select(lambda r: [
                r.phones.map_json_array(lambda o: o.number.map_string("phone_number")),
                r.settings]),
        }
        return {t: s.with_on_conflict(upsert) for t, s in specs.items()}

    # -- the pass ----------------------------------------------------------

    def reset(self) -> None:
        self._load("tgt", self.stale)
        seqs = [f"SELECT setval('{t}_id_seq', 1, false)"
                for t in self.tables if t != "tree_nodes"]
        self._sql("tgt", "; ".join(seqs))

    def _connect(self, db: str):
        return functools.partial(pgwire.connect, host="127.0.0.1",
                                 port=self.server.port, user="postgres",
                                 database=db)

    def run_pass(self, tracer: Tracer | None) -> dict:
        src, tgt = self._connect("src"), self._connect("tgt")
        catalog = introspect_catalog(src)
        coordinator = SnapshotCoordinator.export(src)
        options = self.server.options("src")
        specs = self.specs()

        def read(table: str):
            lo, hi = self.bounds[table]
            return (self.spark.read.format("pgwire").options(**options)
                    .option("table", table)
                    .option("snapshot_id", coordinator.snapshot_id)
                    .option("partition_column", PG_KEYS[table][-1])
                    .option("lower", str(lo)).option("upper", str(hi))
                    .option("num_partitions", str(min(PG_READ_PARTITIONS, self.nproc)))
                    .load())

        def write(table: str, df) -> int:
            write_jdbc(df, tgt, table, on_conflict=specs[table].on_conflict,
                       primary_key=sorted(catalog.primary_keys[table]),
                       batch_size=specs[table].batch_size, catalog=catalog)
            # The target starts with a subset of the expected rows, so its
            # row count after the upsert is the number of rows written.
            return int(self._sql("tgt", f"SELECT count(*) FROM {table}")[0][0])

        if tracer is not None:
            patch_copier_layers(tracer)
            read = tracer.wrap("source.read_table", read)
            write = tracer.wrap("sink.write_table", write)
        self.coordinator = coordinator
        copier = DbCopier(catalog, read, write)
        if tracer is None:
            return copier.run(specs)
        with tracer.span("copier.run"):
            return copier.run(specs)

    def finish_pass(self) -> None:
        """Release the snapshot once Spark is idle: adaptive execution can
        leave a shuffle stage of the pass running after ``run`` returns,
        and its source reads need the snapshot."""
        if self.coordinator is not None:
            self.coordinator.close()
            self.coordinator = None

    # -- the check -----------------------------------------------------------

    def check(self, result: dict) -> list[str]:
        errors = []
        for t in self.tables:
            key = _key_sql(PG_KEYS[t]).replace("HUGEINT", "NUMERIC")
            col, value = PG_STALE[t]
            n, keysum, stale = self._sql("tgt", (
                f"SELECT count(*), coalesce(sum({key}), 0), "
                f"count(*) FILTER (WHERE {col}::text = '{value}') FROM {t}"))[0]
            got = (int(n), int(keysum))
            if got != self.expected[t]:
                errors.append(f"{t}: (rows, key sum) {got} != {self.expected[t]}")
            if result.get(t) != self.expected[t][0]:
                errors.append(f"{t}: copier reported {result.get(t)} rows")
            if int(stale):
                errors.append(f"{t}: {stale} stale rows were not updated")
        for child, fk_cols, parent in PG_FKS:
            on = " AND ".join(f"p.{pc} = c.{fc}"
                              for fc, pc in zip(fk_cols, PG_KEYS[parent]))
            orphans = self._sql("tgt", (
                f"SELECT count(*) FROM {child} c WHERE c.{fk_cols[0]} IS NOT NULL "
                f"AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE {on})"))[0][0]
            if int(orphans):
                errors.append(f"{child}->{parent}: {orphans} orphans")
        for t in self.tables:
            if t == "tree_nodes":
                continue
            last, called, top = self._sql("tgt", (
                f"SELECT last_value, is_called, (SELECT coalesce(max(id), 0) "
                f"FROM {t}) FROM {t}_id_seq"))[0]
            if int(last) != int(top) + 1 or called:
                errors.append(f"{t}_id_seq not reset: last_value {last}, max id {top}")
        deferrable = self._sql("tgt", (
            "SELECT count(*) FROM pg_constraint WHERE contype = 'f' "
            "AND conrelid = confrelid AND (condeferrable OR condeferred)"))[0][0]
        if int(deferrable):
            errors.append(f"{deferrable} self-ref constraints left deferrable")
        errors += self._check_samples()
        return errors

    def _check_samples(self) -> list[str]:
        errors = []
        rng = np.random.default_rng([self.seed, 6])
        for a in (Anon("users", "id", "first_name", "first_name"),
                  Anon("users", "id", "last_name", "last_name"),
                  Anon("users", "id", "email", "email"),
                  Anon("employees", "id", "name", "full_name")):
            src = {row[0]: row[PG_COLUMNS[a.table].index(a.column)]
                   for row in self.rows[a.table]}
            kept = [k for k in src if a.table != "users" or k <= self.user_cut]
            ids = sorted(int(i) for i in rng.choice(kept, SAMPLE, replace=False))
            got = dict(self._sql("tgt", (
                f"SELECT id, {a.column} FROM {a.table} "
                f"WHERE id IN ({', '.join(map(str, ids))})")))
            errors += compare_sample(a, [(got.get(i), src[i]) for i in ids])
        return errors


def _key_idx(table: str) -> list[int]:
    return [PG_COLUMNS[table].index(k) for k in PG_KEYS[table]]


def _key_value(table: str, row: tuple) -> int:
    k = [row[i] for i in _key_idx(table)]
    return k[0] if len(k) == 1 else k[0] * 1000003 + k[1]
