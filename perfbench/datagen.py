"""Seeded input generators for the benchmark workloads.

Everything the program reads is built here from ``--seed`` with numpy, so
the same seed gives byte-identical inputs and the benchmark needs nothing
outside its checkout.

* ``tpch_tables`` — the TPC-H-shaped chain region -> nation -> customer ->
  orders -> lineitem, in the column layout of the repo's fixtures. Customer carries a self-referencing ``c_referrer``
  forest: one shuffled 8-ary heap per region (depth 5 at 150k customers),
  plus a seeded share of deep nodes re-pointed at a shallow node of
  another region's heap. A region filter therefore keeps whole heaps,
  except the re-pointed subtrees hanging off an unselected region, which
  the self-ref closure must drop (the FIXTURES.md "Fiction" pattern at
  scale). Re-pointing only ever targets heap depth <= 1 and only moves
  nodes at depth >= 2, so the forest stays acyclic.
* ``fixture_tables`` — the seven FIXTURES.md tables (users, orders,
  categories, order_items, employees, tree_nodes, profiles) at tens of
  thousands of rows, with every FK resolvable, children ahead of parents
  in physical order, NULL self-ref roots, and the Fiction/Poetry
  patterns arising from the seeded owner/parent draws.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

N_REGIONS = 5
N_NATIONS = 25
REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000


def _fmt(prefix: str, numbers: np.ndarray, width: int = 9) -> pa.Array:
    """``prefix`` + zero-padded ``numbers``, vectorized."""
    digits = pc.utf8_lpad(pc.cast(pa.array(numbers), pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _phones(rng: np.random.Generator, n: int) -> pa.Array:
    parts = [pc.cast(pa.array(rng.integers(lo, hi, n)), pa.string())
             for lo, hi in ((10, 35), (100, 1000), (100, 1000), (1000, 10000))]
    return pc.binary_join_element_wise(*parts, "-")


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 2400, n)
    return pa.array(_EPOCH_1992 + days * np.timedelta64(_DAY_US, "us"),
                    pa.timestamp("us"))


def heap_depth(n: int, fanout: int) -> np.ndarray:
    """Depth of each position of an ``n``-node ``fanout``-ary heap."""
    starts = [0]
    while starts[-1] < n:
        starts.append(starts[-1] * fanout + 1)
    return np.searchsorted(np.asarray(starts), np.arange(n), side="right") - 1


def referrer_forest(rng: np.random.Generator, region_of: np.ndarray,
                    repoint_share: float) -> np.ndarray:
    """Parent index per node (-1 = root): one shuffled 8-ary heap per
    region, then ``repoint_share`` of the depth>=2 nodes re-pointed to a
    depth<=1 node of a different region's heap."""
    n = len(region_of)
    parent = np.full(n, -1, dtype=np.int64)
    depth = np.zeros(n, dtype=np.int64)
    shallow: dict[int, np.ndarray] = {}
    for r in range(N_REGIONS):
        members = rng.permutation(np.flatnonzero(region_of == r))
        pos = np.arange(len(members))
        parent[members[1:]] = members[(pos[1:] - 1) // 8]
        member_depth = heap_depth(len(members), 8)
        depth[members] = member_depth
        shallow[r] = members[member_depth <= 1]
    deep = np.flatnonzero(depth >= 2)
    moved = rng.choice(deep, size=int(len(deep) * repoint_share), replace=False)
    other = (region_of[moved] + rng.integers(1, N_REGIONS, len(moved))) % N_REGIONS
    for r in range(N_REGIONS):
        sel = other == r
        parent[moved[sel]] = rng.choice(shallow[r], int(sel.sum()))
    return parent


def tpch_tables(seed: int, customers: int, orders_per_customer: int,
                lines_per_order: int, repoint_share: float = 0.01
                ) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    region = pa.table({
        "r_regionkey": pa.array(range(N_REGIONS), pa.int32()),
        "r_name": pa.array(REGION_NAMES, pa.string()),
    })
    nation_keys = np.arange(N_NATIONS)
    nation = pa.table({
        "n_nationkey": pa.array(nation_keys, pa.int32()),
        "n_name": _fmt("NATION_", nation_keys, 1),
        "n_regionkey": pa.array(nation_keys % N_REGIONS, pa.int32()),
    })

    c_nation = rng.integers(0, N_NATIONS, customers)
    referrer = referrer_forest(rng, c_nation % N_REGIONS, repoint_share)
    custkeys = np.arange(customers, dtype=np.int64)
    customer = pa.table({
        "c_custkey": pa.array(custkeys, pa.int64()),
        "c_name": _fmt("Customer#", custkeys),
        "c_nationkey": pa.array(c_nation, pa.int32()),
        "c_phone": _phones(rng, customers),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, customers), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, customers),
        "c_referrer": pa.array(referrer, pa.int64(), mask=referrer < 0),
    })

    n_orders = customers * orders_per_customer
    orderkeys = np.arange(n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(orderkeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_orders),
        "o_totalprice": pa.array(np.round(rng.uniform(850, 560000, n_orders), 2)),
        "o_orderdate": _dates(rng, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        "o_clerk": _fmt("Clerk#", rng.integers(1, 1000, n_orders)),
    })

    n_lines = n_orders * lines_per_order
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(orderkeys, lines_per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200_000, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10_000, n_lines), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, lines_per_order + 1),
                                         n_orders), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n_lines),
        "l_linestatus": _pick(rng, LINE_STATUS, n_lines),
        "l_shipdate": _dates(rng, n_lines),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


# ---------------------------------------------------------------------------
# FIXTURES.md-shaped Postgres schema
# ---------------------------------------------------------------------------

FIRST = ["John", "Jane", "Robert", "Emily", "Michael", "Sarah", "David",
         "Jessica", "Christopher", "Amanda", "Maria", "Wei", "Ahmed", "Olga"]
LAST = ["Doe", "Smith", "Johnson", "Williams", "Brown", "Davis", "Miller",
        "Wilson", "Moore", "Taylor", "Garcia", "Chen", "Khan", "Ivanova"]
STATUSES = ["completed", "pending", "cancelled", "shipped", "processing"]
PRODUCTS = ["Phone Case", "Laptop Sleeve", "USB-C Cable", "Summer Dress",
            "Programming Book", "Novel - Fiction", "Poetry Anthology",
            "Smart Watch", "Running Shoes", "HDMI Cable"]
PHONE_TYPES = ["mobile", "home", "work"]


def _shuffled_tree(rng: np.random.Generator, n: int, roots: int,
                   fanout: int) -> tuple[np.ndarray, np.ndarray]:
    """1-based parent ids (0 = NULL) and root ids of a shuffled
    ``fanout``-ary forest with ``roots`` roots; ids are a permutation, so
    children often precede their parents in id (physical) order."""
    ids = rng.permutation(n) + 1
    parent = np.zeros(n + 1, dtype=np.int64)
    root = np.zeros(n + 1, dtype=np.int64)
    root[ids[:roots]] = ids[:roots]
    for i in range(roots, n):
        parent[ids[i]] = ids[(i - roots) // fanout]
        root[ids[i]] = root[parent[ids[i]]]
    return parent[1:], root[1:]


def fixture_tables(seed: int, users: int) -> dict[str, list[tuple]]:
    """Rows per table in FK order; ids are 1-based like SERIAL columns.
    Sizes scale off ``users``: orders 2x, categories 0.5x, order_items 3x,
    employees 0.5x, tree_nodes 0.25x, profiles 0.5x."""
    rng = np.random.default_rng([seed, 2])
    out: dict[str, list[tuple]] = {}
    out["users"] = [
        (i, FIRST[f], LAST[l], f"{FIRST[f].lower()}.{LAST[l].lower()}{i}@example.com")
        for i, f, l in zip(range(1, users + 1),
                           rng.integers(0, len(FIRST), users),
                           rng.integers(0, len(LAST), users))
    ]
    n_orders = 2 * users
    out["orders"] = [
        (i, int(u), f"{c / 100:.2f}", STATUSES[s])
        for i, u, c, s in zip(range(1, n_orders + 1),
                              rng.integers(1, users + 1, n_orders),
                              rng.integers(100, 200_000, n_orders),
                              rng.integers(0, len(STATUSES), n_orders))
    ]
    n_cat = users // 2
    cat_parent, _ = _shuffled_tree(rng, n_cat, roots=max(3, n_cat // 50), fanout=4)
    out["categories"] = [
        (i, f"Category {i}", int(o), int(p) or None)
        for i, o, p in zip(range(1, n_cat + 1),
                           rng.integers(1, users + 1, n_cat), cat_parent)
    ]
    n_items = 3 * users
    out["order_items"] = [
        (i, int(o), int(c), PRODUCTS[p], int(q))
        for i, o, c, p, q in zip(range(1, n_items + 1),
                                 rng.integers(1, n_orders + 1, n_items),
                                 rng.integers(1, n_cat + 1, n_items),
                                 rng.integers(0, len(PRODUCTS), n_items),
                                 rng.integers(1, 6, n_items))
    ]
    n_emp = users // 2
    manager, _ = _shuffled_tree(rng, n_emp, roots=max(3, n_emp // 100), fanout=6)
    mentor, _ = _shuffled_tree(rng, n_emp, roots=max(3, n_emp // 100), fanout=6)
    out["employees"] = [
        (i, f"{FIRST[f]} {LAST[l]}", int(m) or None, int(t) or None)
        for i, f, l, m, t in zip(range(1, n_emp + 1),
                                 rng.integers(0, len(FIRST), n_emp),
                                 rng.integers(0, len(LAST), n_emp),
                                 manager, mentor)
    ]
    n_nodes = users // 4
    # (group_id, position) key: group = the tree's root id, position = node id.
    node_parent, node_root = _shuffled_tree(rng, n_nodes, roots=4, fanout=3)
    out["tree_nodes"] = [
        (int(g), n, f"Node {n}", int(g) if p else None, int(p) or None)
        for n, p, g in zip(range(1, n_nodes + 1), node_parent, node_root)
    ]
    n_prof = users // 2
    prof_users = rng.choice(np.arange(1, users + 1), n_prof, replace=False)
    profiles = []
    for i, u in enumerate(prof_users, start=1):
        k = int(rng.integers(1, 4))
        phones = ", ".join(
            f'{{"type": "{PHONE_TYPES[int(rng.integers(0, 3))]}", '
            f'"number": "555-{int(rng.integers(1000, 10000))}"}}'
            for _ in range(k)
        )
        settings = f'{{"theme": "dark", "language": "en", "notifications": {str(bool(i % 2)).lower()}}}'
        profiles.append((i, int(u), f"[{phones}]", settings))
    out["profiles"] = profiles
    return out
