"""TableSorter ports — ``tests/TableSorterTest.scala`` — and the
dependency-graph runner of the copy."""

from __future__ import annotations

import random
import sys
import threading

import pytest

from simple_anonymizer_spark.plans.table_sorter import (compute_table_levels,
                                                        group_tables_by_level,
                                                        run_graph, sort_tables)
from simple_anonymizer_spark.sources.catalog import LogicalFK


def fk(child, child_col, parent, parent_col):
    return LogicalFK(None, child, parent, ((child_col, parent_col),))


def test_no_deps_level_zero():
    assert compute_table_levels(["a", "b"], []) == {"a": 0, "b": 0}


def test_chain():
    fks = [fk("b", "a_id", "a", "id"), fk("c", "b_id", "b", "id")]
    assert compute_table_levels(["a", "b", "c"], fks) == {"a": 0, "b": 1, "c": 2}


def test_diamond():
    # TableSorterTest.scala:40-53 — d depends on b and c, both depend on a.
    fks = [
        fk("b", "a_id", "a", "id"),
        fk("c", "a_id", "a", "id"),
        fk("d", "b_id", "b", "id"),
        fk("d", "c_id", "c", "id"),
    ]
    assert compute_table_levels(["a", "b", "c", "d"], fks) == {
        "a": 0, "b": 1, "c": 1, "d": 2,
    }


def test_self_ref_ignored():
    # TableSorterTest.scala:55-60
    fks = [fk("a", "parent_id", "a", "id")]
    assert compute_table_levels(["a"], fks) == {"a": 0}


def test_cycles_dropped():
    # TableSorterTest.scala:62-70 — cyclic tables omitted, others assigned.
    fks = [fk("a", "b_id", "b", "id"), fk("b", "a_id", "a", "id")]
    levels = compute_table_levels(["a", "b", "c"], fks)
    assert levels == {"c": 0}


def test_out_of_scope_parent_ignored():
    fks = [fk("b", "x_id", "x", "id")]  # x not in table list
    assert compute_table_levels(["b"], fks) == {"b": 0}


def test_grouping_sorted():
    # TableSorterTest.scala:77-90
    levels = {"z": 0, "a": 0, "m": 1}
    assert group_tables_by_level(levels) == [["a", "z"], ["m"]]
    assert group_tables_by_level({}) == []


def test_sort_tables_end_to_end():
    fks = [fk("orders", "user_id", "users", "id"),
           fk("order_items", "order_id", "orders", "id")]
    assert sort_tables(["order_items", "users", "orders"], fks) == [
        ["users"], ["orders"], ["order_items"],
    ]


def test_run_graph_stops_submitting_after_the_first_failure():
    ran = []

    def step(node):
        ran.append(node)
        if node == "a":
            raise KeyError(node)

    # One worker: "a" runs first, so "d" was ready but never submitted.
    with pytest.raises(KeyError):
        run_graph({"a": [], "b": ["a"], "d": []}, step, max_workers=1)
    assert ran == ["a"]


def test_run_graph_stress_each_node_once_after_its_dependencies():
    """More workers than cores and a short switch interval: every node runs
    exactly once, and only after each of its dependencies has returned."""
    rng = random.Random(7)
    deps = {i: rng.sample(range(i), min(i, rng.randint(0, 3))) for i in range(300)}
    finished, started, lock = set(), [], threading.Lock()
    early = []

    def step(node):
        with lock:
            started.append(node)
            early.extend(d for d in deps[node] if d not in finished)
        with lock:
            finished.add(node)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        run_graph(deps, step, max_workers=32)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(started) == list(range(300))
    assert early == []
