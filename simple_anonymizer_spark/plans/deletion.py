"""Cascading deletion — the GDPR right-to-erasure workflow on the same
FK machinery that powers subsetting.

The reference's filter propagation (``src/FilterPropagation.scala``)
answers "keep these rows and everything reachable from them"; erasure
asks the complement: "delete these rows and everything that references
them". The propagation loop is the same topological walk, but the NULL
convention differs from subsetting's strict ``IN``: SQL ``ON DELETE
CASCADE`` touches only children whose FK actually references a deleted
parent, so a NULL-FK child always survives — every edge propagates
``fk IS NULL OR fk IN (surviving parents)``, the same keep-rule
(``keep_if_parent_in``) subsetting applies to its self-ref closures.
Self-referencing FKs reuse the subsetting closure (``self_ref_closure``)
over the table's hit rows, pinned once (eager ``DISK_ONLY``
``localCheckpoint``, as ``apply_subsetting`` pins a filtered table): the
closure's probe, its per-level CTE reads and the keep join all read the
pin, so the source table and its parents' joins run once.

The seed predicate is likewise SQL-DELETE-shaped: rows where the delete
predicate evaluates to NULL are NOT deleted (``NOT coalesce(φ, false)``).

Scale (100 TB): one left join (broadcast when the surviving parent key
set is small — a targeted erasure usually is) or semi-join per FK edge,
in topological order; the audit is one count aggregate per table,
unioned into a single small report.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from .propagation import _quoted, keep_if_parent_in, self_ref_closure
from .table_sorter import sort_tables

def cascade_delete(
    dfs: dict[str, DataFrame],
    catalog: Catalog,
    delete_where: dict[str, str],
) -> dict[str, DataFrame]:
    """Per-table survivors after deleting rows matching ``delete_where``
    (raw Spark SQL fragments, per table) and cascading the deletion down
    every FK edge in ``catalog``."""
    fks = [
        fk for fk in catalog.foreign_keys
        if fk.fk_table in dfs and fk.pk_table in dfs
    ]
    order = [t for level in sort_tables(list(dfs), fks) for t in level]

    out: dict[str, DataFrame] = dict(dfs)
    touched: dict[str, bool] = {}
    for table in order:
        eff = dfs[table]
        hit = False
        if table in delete_where:
            eff = eff.where(
                F.expr(f"NOT coalesce(({delete_where[table]}), false)")
            )
            hit = True
        for fk in catalog.fks_of_child(table):
            if fk.is_self_ref:
                continue
            if touched.get(fk.pk_table):
                parent_keys = out[fk.pk_table].select(
                    *map(_quoted, fk.pk_columns)).distinct()
                eff = keep_if_parent_in(eff, parent_keys, fk)
                hit = True
        self_fks = catalog.self_ref_fks(table)
        if hit and self_fks:
            eff = eff.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
            for fk in self_fks:
                eff = keep_if_parent_in(eff, self_ref_closure(eff, fk), fk)
        out[table] = eff
        touched[table] = hit
    return out


def deletion_audit(
    dfs: dict[str, DataFrame],
    catalog: Catalog,
    delete_where: dict[str, str],
) -> DataFrame:
    """Erasure audit report: ``table_name, rows_before, rows_surviving,
    rows_deleted`` — the compliance evidence a deletion run must emit."""
    survivors = cascade_delete(dfs, catalog, delete_where)
    reports = []
    for table in sorted(dfs):
        before = dfs[table].agg(
            F.count(F.lit(1)).cast("long").alias("rows_before")
        )
        after = survivors[table].agg(
            F.count(F.lit(1)).cast("long").alias("rows_surviving")
        )
        reports.append(
            before.crossJoin(after).select(
                F.lit(table).alias("table_name"),
                "rows_before",
                "rows_surviving",
                (F.col("rows_before") - F.col("rows_surviving"))
                .alias("rows_deleted"),
            )
        )
    return reduce(DataFrame.unionByName, reports)
