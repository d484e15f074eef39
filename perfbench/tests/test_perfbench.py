"""Self-tests of the benchmark on tiny inputs.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The Spark tests start one JVM per benchmark run (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import counters as C
from perfbench import datagen, harness
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DETERMINISTIC = ("source.rows_read", "pg.source_scans", "copier.sql_executions",
                 "sink.rows", "sink.rereads", "pg.statements", "pg.rows_inserted",
                 "pg.rows_updated")
# Job counts include the jobs adaptive execution submits per query stage;
# how many depends on the order stages finish in, so a pass may run a job
# or two more than the last.
JOB_COUNTS = ("copier.jobs", "propagation.jobs", "closure.jobs")


# -- pure helpers --------------------------------------------------------------


@pytest.mark.parametrize("text, value", [
    ("1,000,000", 1_000_000),
    ("921.0 B", 921),
    ("1.5 KiB", 1536),
    ("total (min, med, max (stageId: taskId))\n39 ms (9 ms, 10 ms, 10 ms)", 39),
    ("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)", 2 << 20),
    ("1.2 s", 1200),
    (None, 0),
])
def test_parse_metric(text, value):
    assert C.parse_metric(text) == pytest.approx(value)


def test_busy_ms_merges_and_clips():
    assert C.busy_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert C.busy_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert C.busy_ms([], 0, 10) == 0


def test_self_time_and_pool_thread_parent():
    tr = Tracer("t")
    with tr.root("pass") as root:
        with tr.span("outer") as outer:
            child = []

            def work():
                with tr.span("in-thread") as s:
                    child.append(s)
                    time.sleep(0.02)

            t = threading.Thread(target=work)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    assert child[0].parent == outer.id
    assert outer.parent == root.id
    assert tr.self_time(outer) == pytest.approx(outer.dur - child[0].dur, abs=1e-6)


def test_patch_restores_original():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer("t")
    tr.patch(mod, "f", "f")
    assert mod.f(1) == 2 and [s.name for s in tr.spans] == ["f"]
    tr.restore()
    assert mod.f is original


# -- inputs and expected output ------------------------------------------------


def test_inputs_are_seeded():
    a = datagen.tpch_tables(3, 500, 1, 2)
    b = datagen.tpch_tables(3, 500, 1, 2)
    c = datagen.tpch_tables(4, 500, 1, 2)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["customer"].equals(c["customer"])
    assert datagen.fixture_tables(3, 200) == datagen.fixture_tables(3, 200)


def test_referrer_forest_is_acyclic_with_cross_region_subtrees():
    rng = np.random.default_rng(0)
    region = rng.integers(0, datagen.N_REGIONS, 20_000)
    parent = datagen.referrer_forest(rng, region, 0.01)
    depth = np.zeros(len(parent), dtype=int)
    for i in range(len(parent)):
        j, d = i, 0
        while parent[j] >= 0:
            j, d = parent[j], d + 1
            assert d < 50, "cycle"
        depth[i] = d
    assert 4 <= depth.max() <= 6
    cross = parent >= 0
    cross[cross] = region[parent[cross]] != region[cross]
    assert 0 < cross.sum() <= 0.01 * len(parent)


def _python_closure(customer, nations):
    """Reference for the subset chain's customer set: keep rows whose whole
    referrer chain stays inside the filtered set."""
    keys = customer["c_custkey"].to_pylist()
    ref = dict(zip(keys, customer["c_referrer"].to_pylist()))
    inside = {k for k, n in zip(keys, customer["c_nationkey"].to_pylist())
              if n in nations}

    def kept(k):
        while k is not None:
            if k not in inside:
                return False
            k = ref[k]
        return True

    return {k for k in inside if kept(k)}


def test_expected_subset_matches_python_reference(tmp_path):
    from perfbench.workloads import SubsetChainParquet

    wl = SubsetChainParquet(None, str(tmp_path), 5, dict(
        customers=3000, orders_per_customer=1, lines_per_order=2), nproc=1)
    wl.prepare()
    customer = pq.read_table(os.path.join(wl.input_dir, "customer.parquet"))
    regions = {int(r) for r in wl.regions.split(", ")}
    nations = {n for n in range(datagen.N_NATIONS) if n % datagen.N_REGIONS in regions}
    kept = _python_closure(customer, nations)
    assert 0 < len(kept) < len(customer)
    assert wl.expected["customer"] == (len(kept), sum(kept))


# -- the benchmark on tiny inputs ----------------------------------------------


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(harness.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER


def _bench(workload: str, trace: bool, tmp_path, **kw) -> harness.Bench:
    work = os.path.join(ROOT, ".perfbench_work", f"test-{workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    return harness.Bench(workload, 7, 0.0, trace, work, "tiny", **kw)


def _drop_one_row(wl) -> None:
    """Remove one row from the pass output, as a broken copy would."""
    if hasattr(wl, "output_dir"):
        d = os.path.join(wl.output_dir, "lineitem")
        f = sorted(x for x in os.listdir(d) if x.endswith(".parquet")
                   and pq.read_metadata(os.path.join(d, x)).num_rows)[0]
        t = pq.read_table(os.path.join(d, f))
        pq.write_table(t.slice(1), os.path.join(d, f))
    else:
        # tree_nodes is copied whole; delete one leaf node.
        wl._sql("tgt", "DELETE FROM tree_nodes WHERE ctid = (SELECT ctid FROM "
                       "tree_nodes t WHERE NOT EXISTS (SELECT 1 FROM tree_nodes c "
                       "WHERE c.parent_group_id = t.group_id "
                       "AND c.parent_position = t.position) LIMIT 1)")


@pytest.mark.parametrize("workload", sorted(harness.WORKLOADS))
def test_dropped_row_counts_as_failed_pass(workload, tmp_path):
    calls = []

    def sabotage(wl):
        calls.append(1)
        if len(calls) == 2:
            _drop_one_row(wl)

    bench = _bench(workload, False, tmp_path, after_pass=sabotage, min_passes=2)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    json.dumps(result)
    assert result["correct"] is False
    assert result["failed"] == 1
    assert result["attempted"] == len(calls) >= 3
    assert {k: v["unit"] for k, v in result["metrics"].items()} == harness.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted(harness.WORKLOADS))
def test_traced_run_emits_every_layer_metric_and_counters_repeat(workload, tmp_path):
    bench = _bench(workload, True, tmp_path, min_passes=4)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    assert result["correct"] is True and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == harness.PER_LAYER
    plain = [p for p in bench.passes[1:] if not p.traced]
    traced = [p for p in bench.passes if p.traced]
    assert len(plain) == 2 and len(traced) == 2
    assert plain[0].end_to_end["source_scans"] == plain[1].end_to_end["source_scans"]
    for name in DETERMINISTIC:
        assert traced[0].layers[name] == traced[1].layers[name], name
    for name in JOB_COUNTS:
        assert abs(traced[0].layers[name] - traced[1].layers[name]) <= 2, name
    assert traced[0].layers["copier.jobs"] > 0
    assert traced[0].layers["sink.rows"] > 0
