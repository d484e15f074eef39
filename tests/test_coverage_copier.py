"""Coverage validation goldens (``tests/CoverageValidatorTest.scala``),
end-to-end DbCopier runs on parquet fixtures, and the copy schedule.

The schedule tests synchronise the copy's steps with events and bounded
waits, never sleeps: a step that must not overlap another waits a short
while for an event the other would set if it ran too early.
"""

from __future__ import annotations

import threading

import pytest

from simple_anonymizer_spark.functions import pyimpl as P
from simple_anonymizer_spark.plans import TableSpec
from simple_anonymizer_spark.plans import coverage, db_copier, propagation
from simple_anonymizer_spark.plans.db_copier import DbCopier, add_keys
from simple_anonymizer_spark.sources.catalog import Catalog, LogicalFK


def fk(child, child_col, parent, parent_col):
    return LogicalFK(None, child, parent, ((child_col, parent_col),))


@pytest.fixture(scope="module")
def catalog():
    return Catalog.declared(
        columns={
            "users": ["id", "first_name", "email"],
            "orders": ["id", "user_id", "total", "status"],
        },
        primary_keys={"users": {"id"}, "orders": {"id"}},
        foreign_keys=[fk("orders", "user_id", "users", "id")],
    )


def test_data_columns_excludes_keys(catalog):
    # CoverageValidatorIntegrationTest.scala:6-26
    assert coverage.data_columns(catalog, "orders") == ["total", "status"]
    assert coverage.data_columns(catalog, "users") == ["first_name", "email"]


def test_missing_table_error_has_snippet(catalog):
    with pytest.raises(ValueError) as e:
        coverage.validate(catalog, set(), {"users": TableSpec.select(
            lambda r: [r.id, r.first_name, r.email])})
    msg = str(e.value)
    assert '"orders": TableSpec.select(lambda row: [' in msg
    assert "row.total" in msg and "row.status" in msg
    assert 'skip them via DbCopier(skipped_tables={"orders"})' in msg


def test_missing_columns_error_has_snippet(catalog):
    specs = {
        "users": TableSpec.select(lambda r: [r.id]),
        "orders": TableSpec.select(lambda r: [r.id, r.user_id, r.total, r.status]),
    }
    with pytest.raises(ValueError) as e:
        coverage.validate(catalog, set(), specs)
    msg = str(e.value)
    assert "Table 'users' is missing 2 column(s)" in msg
    assert "row.email" in msg and "row.first_name" in msg


def test_skipped_tables_excluded(catalog):
    coverage.validate(catalog, {"orders"}, {"users": TableSpec.select(
        lambda r: [r.id, r.first_name, r.email])})


def test_add_keys_user_spec_wins(catalog):
    spec = TableSpec.select(lambda r: [r.total, r.user_id.nulled])
    enriched = add_keys(spec, catalog, "orders")
    names = enriched.column_names
    assert set(names) == {"total", "user_id", "id"}
    assert len(names) == 3  # user_id not duplicated
    # user's nulled user_id preserved, not replaced by passthrough
    from simple_anonymizer_spark.plans import FixedColumn
    by_name = {c.name: c for c in enriched.columns}
    assert isinstance(by_name["user_id"], FixedColumn)


def test_db_copier_end_to_end(spark, catalog, tmp_path):
    users = spark.createDataFrame(
        [(1, "Alice", "a@x.com"), (2, "Bob", "b@x.com"), (3, "Carol", None)],
        "id int, first_name string, email string",
    )
    orders = spark.createDataFrame(
        [(1, 1, 10.0, "done"), (2, 2, 20.0, "open"), (3, 3, 30.0, "done")],
        "id int, user_id int, total double, status string",
    )
    dfs = {"users": users, "orders": orders}
    out_counts = {}

    def write(name, df):
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        out_counts[name] = path
        return n

    copier = DbCopier(catalog, lambda n: dfs[n], write)
    result = copier.run({
        "users": TableSpec.select(lambda r: [
            r.first_name.map_string("first_name"),
            r.email.map_string("email"),
        ]).where("id <= 2"),
        "orders": TableSpec.select(lambda r: [r.total, r.status]),
    })
    assert result == {"users": 2, "orders": 2}

    got_users = {r.id: r for r in spark.read.parquet(out_counts["users"]).collect()}
    assert set(got_users) == {1, 2}
    assert got_users[1].first_name == P.first_name("Alice")
    assert got_users[1].email == P.email("a@x.com")
    got_orders = {r.id: r.user_id for r in spark.read.parquet(out_counts["orders"]).collect()}
    assert got_orders == {1: 1, 2: 2}  # order 3 subsetted away


def test_db_copier_validation_failure(spark, catalog):
    copier = DbCopier(catalog, lambda n: None, lambda n, d: 0)
    with pytest.raises(ValueError, match="Missing table specs"):
        copier.run({"users": TableSpec.select(lambda r: [r.first_name, r.email])})


# ---------------------------------------------------------------------------
# Copy schedule: one dependency graph of subset and write steps
# ---------------------------------------------------------------------------


def graph_copy(spark, tables, edges, rows=None):
    """Catalog, frames and specs for ``tables`` with FK ``edges`` (child,
    parent), each on a ``<parent>_id`` column; PK ``id``, one data column
    ``v``. ``rows[t]`` holds (id, *fk values) tuples; default one row."""
    cols = {t: ["id"] + [f"{p}_id" for c, p in edges if c == t] for t in tables}
    catalog = Catalog.declared(
        columns={t: cols[t] + ["v"] for t in tables},
        primary_keys={t: {"id"} for t in tables},
        foreign_keys=[fk(c, f"{p}_id", p, "id") for c, p in edges],
    )
    rows = rows or {}
    dfs = {
        t: spark.createDataFrame(
            [(*r, "x") for r in rows.get(t, [(1,) * len(cols[t])])],
            ", ".join(f"{c} int" for c in cols[t]) + ", v string")
        for t in tables
    }
    specs = {t: TableSpec.select(lambda r: [r.v]) for t in tables}
    return catalog, dfs, specs


def test_no_write_starts_before_its_fk_parents_writes_returned(spark):
    edges = [("b", "a"), ("c", "b"), ("c", "a"), ("d", "a")]
    catalog, dfs, specs = graph_copy(spark, ["a", "b", "c", "d", "u"], edges)
    parents = {t: {p for c, p in edges if c == t} for t in dfs}
    child_started = {t: threading.Event() for t in dfs}
    log, lock = [], threading.Lock()

    def write(name, df):
        with lock:
            log.append(("start", name))
        for p in parents[name]:
            child_started[p].set()
        # A parent stays in its write long enough for a child that was
        # started too early to show in the log.
        if any(name in ps for ps in parents.values()):
            child_started[name].wait(timeout=0.2)
        with lock:
            log.append(("end", name))
        return 1

    result = DbCopier(catalog, dfs.__getitem__, write, max_parallel_tables=8).run(specs)
    assert result == {t: 1 for t in dfs}
    for c, p in edges:
        assert log.index(("end", p)) < log.index(("start", c)), (c, p, log)


def test_failed_write_stops_descendants_and_waits_for_running_steps(spark):
    edges = [("b", "a"), ("c", "b")]
    catalog, dfs, specs = graph_copy(spark, ["a", "b", "c", "u"], edges)
    u_started, a_failed, u_done = threading.Event(), threading.Event(), threading.Event()
    called = []

    def write(name, df):
        called.append(name)
        if name == "a":
            assert u_started.wait(timeout=30)
            a_failed.set()
            raise RuntimeError("write of a failed")
        if name == "u":
            u_started.set()
            assert a_failed.wait(timeout=30)
            # Still running after the failure: run must wait for it.
            threading.Event().wait(timeout=0.3)
            u_done.set()
        return 1

    copier = DbCopier(catalog, dfs.__getitem__, write, max_parallel_tables=4)
    with pytest.raises(RuntimeError, match="write of a failed"):
        copier.run(specs)
    assert u_done.is_set()
    assert sorted(called) == ["a", "u"]


def test_copy_with_one_worker_completes(spark):
    """Pins, a self-ref closure and a diamond on a single pool thread:
    cats 4 drops (its parent 3 belongs to the filtered-out user 2), so
    item 2 drops with it."""
    edges = [("cats", "users"), ("cats", "cats"), ("items", "cats"), ("items", "users")]
    catalog, dfs, specs = graph_copy(spark, ["users", "cats", "items"], edges, rows={
        "users": [(1,), (2,)],
        "cats": [(1, 1, None), (2, 1, 1), (3, 2, None), (4, 1, 3)],
        "items": [(1, 2, 1), (2, 4, 1), (3, 1, 2)],
    })
    specs["users"] = specs["users"].where("id = 1")
    written = {}

    def write(name, df):
        written[name] = sorted(r.id for r in df.collect())
        return len(written[name])

    result = DbCopier(catalog, dfs.__getitem__, write, max_parallel_tables=1).run(specs)
    assert written == {"users": [1], "cats": [1, 2], "items": [1]}
    assert result == {"users": 1, "cats": 2, "items": 1}


def test_unfiltered_write_overlaps_a_filtered_tables_subset(spark, monkeypatch):
    """``u`` has no filtered ancestor, so its write need not wait for the
    closure of the filtered self-ref table ``t``."""
    catalog, dfs, specs = graph_copy(spark, ["t", "u"], [("t", "t")],
                                     rows={"t": [(1, None), (2, 1)]})
    specs["t"] = specs["t"].where("id > 0")
    u_started = threading.Event()
    seen = []
    closure = propagation.self_ref_closure

    def waiting_closure(base, fk, *args, **kwargs):
        seen.append(u_started.wait(timeout=10))
        return closure(base, fk, *args, **kwargs)

    def write(name, df):
        if name == "u":
            u_started.set()
        return 1

    monkeypatch.setattr(propagation, "self_ref_closure", waiting_closure)
    result = DbCopier(catalog, dfs.__getitem__, write, max_parallel_tables=4).run(specs)
    assert result == {"t": 1, "u": 1}
    assert seen == [True]


def test_tables_dropped_by_the_sorter_are_never_read(spark):
    edges = [("a", "b"), ("b", "a")]
    catalog, dfs, specs = graph_copy(spark, ["a", "b", "c"], edges)
    reads = []

    def read(name):
        reads.append(name)
        return dfs[name]

    result = DbCopier(catalog, read, lambda name, df: df.count()).run(specs)
    assert reads == ["c"]
    assert result == {"c": 1}


def test_perfbench_patch_points_exist():
    """The traced benchmark passes wrap these module attributes by name
    (``perfbench.workloads.patch_copier_layers``); renaming one fails
    here, not only in the traced benchmark."""
    from perfbench.trace import Tracer
    from perfbench.workloads import patch_copier_layers

    names = [(db_copier, "apply_subsetting"), (db_copier, "apply_spec"),
             (db_copier, "sort_tables"), (propagation, "self_ref_closure"),
             (coverage, "validate")]
    originals = [getattr(owner, name) for owner, name in names]
    tracer = Tracer("t")
    patch_copier_layers(tracer)
    try:
        assert all(getattr(owner, name) is not f
                   for (owner, name), f in zip(names, originals))
    finally:
        tracer.restore()
    assert [getattr(owner, name) for owner, name in names] == originals
