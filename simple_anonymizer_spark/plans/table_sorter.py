"""FK-dependency table leveling — mirrors ``src/TableSorter.scala``.

Level 0 = tables with no (in-scope, non-self) FK parents; level N depends
only on levels < N. Cyclic groups are dropped with a warning, not an error
(``src/TableSorter.scala:57-63`` — a non-standard semantic we deliberately
preserve). Within a level, tables sort by name.

The copy does not run level by level: ``run_graph`` runs it as one
dependency graph (``plans.propagation.apply_subsetting``), each step as
soon as the steps it depends on have returned. The leveling only decides
which tables take part (cyclic groups and their descendants do not) and
the order of cascade deletion.
"""

from __future__ import annotations

import logging
from collections import deque
from collections.abc import Callable, Hashable, Iterable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from graphlib import TopologicalSorter

from ..sources.catalog import LogicalFK

logger = logging.getLogger(__name__)


def compute_table_levels(
    tables: list[str], fks: list[LogicalFK]
) -> dict[str, int]:
    """Iteratively assign ``level = max(parent levels) + 1``; tables left
    unassigned when no progress is possible are cyclic and get dropped
    (``src/TableSorter.scala:29-70``)."""
    table_set = set(tables)
    dependencies = {
        t: {
            fk.pk_table
            for fk in fks
            if fk.fk_table == t and fk.pk_table != t and fk.pk_table in table_set
        }
        for t in tables
    }
    levels: dict[str, int] = {}
    while True:
        unassigned = [t for t in tables if t not in levels]
        if not unassigned:
            return levels
        progressed = False
        for t in unassigned:
            deps = dependencies[t]
            if not deps:
                levels[t] = 0
                progressed = True
            elif all(d in levels for d in deps):
                levels[t] = max(levels[d] for d in deps) + 1
                progressed = True
        if not progressed:
            logger.warning(
                "Circular dependencies detected for tables: %s. "
                "These tables will not be copied.",
                ", ".join(t for t in tables if t not in levels),
            )
            return levels


def group_tables_by_level(table_levels: dict[str, int]) -> list[list[str]]:
    """Group by level, name-sorted within each level
    (``src/TableSorter.scala:79-85``)."""
    if not table_levels:
        return []
    max_level = max(table_levels.values())
    return [
        sorted(t for t, lv in table_levels.items() if lv == level)
        for level in range(max_level + 1)
    ]


def sort_tables(tables: list[str], fks: list[LogicalFK]) -> list[list[str]]:
    """Tables grouped into copy levels (``src/TableSorter.scala:96-101``)."""
    return group_tables_by_level(compute_table_levels(tables, fks))


def run_graph(
    deps: dict[Hashable, Iterable[Hashable]],
    step: Callable[[Hashable], object],
    max_workers: int,
) -> None:
    """Call ``step(node)`` for every node of the acyclic graph ``deps``
    (node -> the nodes it waits for) on a pool of ``max_workers`` threads,
    each node as soon as all its dependencies have returned.

    The calling thread alone submits ready nodes, never more than
    ``max_workers`` at once, and waits for the first to finish, so no
    worker ever blocks on another node and one worker is enough. The first
    failure stops new submissions; it is re-raised once the nodes already
    running have finished.
    """
    sorter = TopologicalSorter(deps)
    sorter.prepare()
    ready: deque[Hashable] = deque()
    running: dict[Future, Hashable] = {}
    error: BaseException | None = None
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        while True:
            if error is None:
                ready.extend(sorter.get_ready())
                while ready and len(running) < max_workers:
                    node = ready.popleft()
                    running[pool.submit(step, node)] = node
            if not running:
                break
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for future in done:
                node = running.pop(future)
                if future.exception() is not None:
                    error = error or future.exception()
                else:
                    sorter.done(node)
    if error is not None:
        raise error
