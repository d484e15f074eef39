"""Whole-database copy orchestrator — mirrors ``src/DbCopier.scala``.

Plan → enrich → validate → execute, all driver-side. Execution is one
dependency graph of per-table steps (``plans.propagation.apply_subsetting``
with ``write``) on a pool of ``max_parallel_tables`` threads submitting
Spark actions; Spark's scheduler interleaves their jobs. A table's subset
step runs once its cross-table FK parents' subset steps have returned; its
write runs once its own subset step and its FK parents' writes have
returned. So an unfiltered table is written at once, while a filtered
table's pin or closure elsewhere is still running, and a constrained
target still receives every parent before its children
(``src/DbCopier.scala:57-83`` runs each table's ``SELECT … WHERE`` inside
its own copy step, level by level). A pool resolves the ``read_table``
calls up front, only for the tables that get copied, so per-table source
schema lookups (a round trip each on a pgwire source) overlap.

Spec enrichment (``src/DbCopier.scala:85-99``): PK and FK columns are
auto-appended as passthrough ``SourceColumn``s, deduplicated by name with
the user's spec winning; propagated subset filters are applied by
semi-joins rather than re-rendered SQL. A filtered parent pins its subset
rows once; its write and its children's semi-joins read that pin, so a
copy scans every source table exactly once, as the reference's one
streamed ``SELECT … WHERE`` per table does.

Failure order: the first exception of any step (a pin, a closure or a
write) stops new steps and is re-raised by ``run`` once the steps already
running have finished. A failed table's descendants are never written,
but tables that do not depend on it may already have been written: a
subsetting error can surface after unrelated writes, as in the reference,
where each table's query runs in its own copy step.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace
from typing import Callable

from pyspark.sql import DataFrame

from ..sources.catalog import Catalog
from . import coverage
from .compiler import apply_spec
from .output_column import SourceColumn
from .propagation import apply_subsetting
from .table_sorter import sort_tables
from .table_spec import TableSpec

logger = logging.getLogger(__name__)


def add_keys(spec: TableSpec, catalog: Catalog, table: str) -> TableSpec:
    """Append PK∪FK passthrough columns, distinct by name, user spec wins
    (``src/DbCopier.scala:85-99``)."""
    key_cols = sorted(
        set(catalog.primary_keys.get(table, frozenset()))
        | set(catalog.fk_columns_by_table.get(table, frozenset()))
    )
    have = set(spec.column_names)
    extra = [SourceColumn(c) for c in key_cols if c not in have]
    return spec.with_columns(list(spec.columns) + extra)


class DbCopier:
    """Copy a whole schema with subsetting + anonymization.

    ``read_table(name) -> DataFrame`` abstracts the source (Parquet dir,
    JDBC, ...); ``write_table(name, df) -> int`` abstracts the sink and
    returns the row count written. For Parquet fixtures snapshot isolation
    is free (immutable files); the JDBC source handles snapshot pinning in
    ``sources.jdbc``.
    """

    def __init__(
        self,
        catalog: Catalog,
        read_table: Callable[[str], DataFrame],
        write_table: Callable[[str, DataFrame], int],
        skipped_tables: set[str] | None = None,
        max_parallel_tables: int = 8,
    ):
        self.catalog = catalog
        self.read_table = read_table
        self.write_table = write_table
        self.skipped_tables = skipped_tables or set()
        self.max_parallel_tables = max_parallel_tables

    def run(self, table_specs: dict[str, TableSpec]) -> dict[str, int]:
        catalog = self.catalog

        # Enrich: auto-passthrough PK/FK columns (user spec wins).
        enriched = {
            t: add_keys(spec, catalog, t) for t, spec in table_specs.items()
        }
        # Validate: all tables spec'd or skipped; all columns covered.
        coverage.validate(catalog, self.skipped_tables, enriched)

        # Topological plan over in-scope tables: cyclic groups and their
        # descendants are dropped, so they are neither read nor written.
        in_scope = [t for t in catalog.tables if t not in self.skipped_tables]
        fks = [
            fk for fk in catalog.foreign_keys
            if fk.fk_table in in_scope and fk.pk_table in in_scope
        ]
        levels = sort_tables(in_scope, fks)
        copied = [t for level in levels for t in level]

        logger.info("Copying %d tables in %d levels...", len(copied), len(levels))
        results: dict[str, int] = {t: 0 for t in self.skipped_tables if t in catalog.tables}

        with ThreadPoolExecutor(max_workers=self.max_parallel_tables) as pool:
            dfs = dict(zip(copied, pool.map(self.read_table, copied)))
        explicit = {
            t: spec.where_clause.render()
            for t, spec in enriched.items()
            if spec.where_clause is not None and t in dfs
        }

        def copy_one(table: str, subset: DataFrame) -> None:
            spec = enriched[table]
            # WHERE already applied during subsetting — compile columns/limit only.
            df = apply_spec(subset, replace(spec, where_clause=None))
            results[table] = count = self.write_table(table, df)
            logger.info("Copied %s: %d rows", table, count)

        # Subset and write (explicit filters AND propagated semi-joins).
        apply_subsetting(dfs, catalog, explicit,
                         max_parallel_tables=self.max_parallel_tables, write=copy_one)
        return results
