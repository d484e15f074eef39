"""FK filter propagation — subsetting children to match filtered parents.

Mirrors ``src/FilterPropagation.scala`` in two forms:

* ``compute_propagated_filters`` — the reference's SQL-string form (IN
  subqueries + WITH RECURSIVE CTEs). The copy never executes it: it is
  the reference that the golden tests render and that
  ``tests/test_propagation_equivalence.py`` runs in DuckDB against
  ``apply_subsetting`` on randomized schemas.
* ``apply_subsetting`` — the Spark execution path over DataFrames:
  cross-table propagation as **left-semi joins** against the frame the
  filtered parent's subset returned (transitivity falls out of each
  table waiting for its parents), and self-referencing closure as the
  reference's recursive CTE run by Spark's own ``WITH RECURSIVE``
  (``self_ref_closure``). NULL-FK semantics match SQL ``IN`` (rows with
  NULL FK drop under a cross-table parent filter; NULL-FK roots are kept
  by self-ref closure via the explicit ``fk IS NULL OR reachable``
  disjunction, ``keep_if_parent_in``).

Scale notes:

* Pins. A filtered table with cross-table children or a self-ref FK pins
  its subset rows (all columns) with one eager ``localCheckpoint``. The
  pin is row-sized, so it is ``DISK_ONLY`` and leaves the heap flat. The
  closures run over the pin, and the table returns the pin (joined with
  its closures). Its write and its children's semi-joins read that
  frame, never the parent's lazy plan; a left-semi join ignores
  duplicate keys, so no separate key set is built.
* Scan bound. A whole copy scans each source table exactly once: into
  its pin, or by its write when it has none.
* Schedule. Subsetting is one dependency graph (``run_graph``): a
  table's subset step runs as soon as its cross-table FK parents' subset
  steps have returned, up to ``max_parallel_tables`` at a time. With
  ``write``, each table's write joins the same graph and starts once its
  own subset step and its FK parents' writes have returned, so an
  unfiltered table is written while a slow closure elsewhere still runs.
* Semi-joins let Catalyst pick broadcast when the parent's subset is
  small (the common case for subsetting — that's the whole point of
  subsetting); AQE converts to broadcast at runtime otherwise.
* Self-ref closure. A filtered set of at most 50k key rows closes on the
  driver: one bounded probe fetches its (pk, fk) tuples as Arrow and a
  BFS walks them. A larger set runs one recursive CTE over the table's
  pin: Spark joins its key columns once per tree level (at most 200
  levels), and the distinct result is pinned by the job that computes
  it. There is no Python loop and no per-level checkpoint; on small
  frames the BFS still wins, since each CTE level costs a Spark job.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog, LogicalFK, quote_identifier
from .table_sorter import run_graph, sort_tables
from .table_spec import WhereClause

# ---------------------------------------------------------------------------
# SQL-string form (the reference; executed by the equivalence tests)
# ---------------------------------------------------------------------------


def _sql_tuple(cols: list[str]) -> str:
    return cols[0] if len(cols) == 1 else "(" + ", ".join(cols) + ")"


def _in_subquery(cols: list[str], subquery: str) -> str:
    return f"{_sql_tuple(cols)} IN ({subquery})"


def _in_expr(fk: LogicalFK, parent_clause: WhereClause) -> WhereClause:
    """``("a","b") IN (SELECT ... WHERE parent-filter)``
    (``src/FilterPropagation.scala:26-30``)."""
    fk_cols = [quote_identifier(c) for c in fk.fk_columns]
    pk_cols = [quote_identifier(c) for c in fk.pk_columns]
    subquery = (
        f"SELECT {', '.join(pk_cols)} FROM {quote_identifier(fk.pk_table)} "
        f"WHERE {parent_clause.render()}"
    )
    return WhereClause.single(_in_subquery(fk_cols, subquery))


def _self_ref_cte_expr(fk: LogicalFK, base_filter: WhereClause) -> WhereClause:
    """``(fk IS NULL OR (fk) IN (WITH RECURSIVE ...))``
    (``src/FilterPropagation.scala:32-51``)."""
    table = quote_identifier(fk.fk_table)
    fk_cols = [quote_identifier(c) for c in fk.fk_columns]
    pk_cols = [quote_identifier(c) for c in fk.pk_columns]
    cte_name = f"_reachable_{fk.fk_table}"
    cte_cols = [quote_identifier(f"_r_{c}") for c in fk.pk_columns]
    cte_col_list = ", ".join(cte_cols)
    null_check = " AND ".join(f"{c} IS NULL" for c in fk_cols)
    join_cond = " AND ".join(
        f"t.{fc} = r.{cc}" for fc, cc in zip(fk_cols, cte_cols)
    )
    filter_sql = base_filter.render()
    base = (
        f"SELECT {', '.join(pk_cols)} FROM {table} "
        f"WHERE ({filter_sql}) AND {null_check}"
    )
    recursive = (
        f"SELECT {', '.join('t.' + c for c in pk_cols)} FROM {table} t "
        f"JOIN {cte_name} r ON {join_cond} WHERE ({filter_sql})"
    )
    cte = (
        f"WITH RECURSIVE {cte_name}({cte_col_list}) AS ({base} UNION {recursive}) "
        f"SELECT {cte_col_list} FROM {cte_name}"
    )
    return WhereClause.single(f"({null_check} OR {_in_subquery(fk_cols, cte)})")


def _combine(a: WhereClause | None, b: WhereClause | None) -> WhereClause | None:
    if a is None:
        return b
    return a.and_(b)


def compute_propagated_filters(
    tables: list[str],
    fks: list[LogicalFK],
    explicit: dict[str, WhereClause],
) -> dict[str, WhereClause]:
    """Walk tables in topological order producing per-table *propagated*
    clauses; explicit clauses participate but are not repeated in the
    output (``src/FilterPropagation.scala:73-99``)."""
    fks_by_child: dict[str, list[LogicalFK]] = {}
    for fk in fks:
        fks_by_child.setdefault(fk.fk_table, []).append(fk)

    accumulated: dict[str, WhereClause] = {}
    for table in tables:
        child_fks = fks_by_child.get(table, [])
        self_fks = [fk for fk in child_fks if fk.is_self_ref]
        cross_fks = [fk for fk in child_fks if not fk.is_self_ref]

        cross_clause: WhereClause | None = None
        for fk in cross_fks:
            parent_effective = _combine(
                explicit.get(fk.pk_table), accumulated.get(fk.pk_table)
            )
            if parent_effective is not None:
                cross_clause = _combine(cross_clause, _in_expr(fk, parent_effective))

        base_filter = _combine(explicit.get(table), cross_clause)
        where_clause = cross_clause
        for fk in self_fks:
            if base_filter is not None:
                where_clause = _combine(
                    where_clause, _self_ref_cte_expr(fk, base_filter)
                )
        if where_clause is not None:
            accumulated[table] = where_clause
    return accumulated


# ---------------------------------------------------------------------------
# DataFrame form (the Spark execution path)
# ---------------------------------------------------------------------------


def _quoted(name: str) -> str:
    """``name`` as a Spark column reference that takes dots, spaces and
    backticks literally."""
    return "`" + name.replace("`", "``") + "`"


def _fk_join(child: DataFrame, parent: DataFrame, fk: LogicalFK, how: str) -> DataFrame:
    """``child`` joined on its FK tuple to ``parent``'s PK tuple; the PK
    columns come along as ``__pk_{i}`` unless ``how`` is a semi-join."""
    keys = parent.select(
        *[F.col(_quoted(pk)).alias(f"__pk_{i}") for i, pk in enumerate(fk.pk_columns)]
    )
    cond = reduce(operator.and_, [
        child[_quoted(fkc)] == keys[f"__pk_{i}"]
        for i, fkc in enumerate(fk.fk_columns)
    ])
    return child.join(keys, cond, how)


def _all_null(cols: list[str]) -> Column:
    return reduce(operator.and_, [F.col(_quoted(c)).isNull() for c in cols])


def keep_if_parent_in(child: DataFrame, keys: DataFrame, fk: LogicalFK) -> DataFrame:
    """``fk IS NULL OR (fk) IN keys`` as one left join. ``keys`` must hold
    distinct PK tuples (a closure, or the surviving parents' keys), so no
    child row multiplies."""
    markers = [f"__pk_{i}" for i in range(len(fk.pk_columns))]
    joined = _fk_join(child, keys, fk, "left")
    keep = F.col(markers[0]).isNotNull() | _all_null(fk.fk_columns)
    return joined.where(keep).drop(*markers)


def _closure_sql(n: int) -> str:
    """The reference's recursive CTE (``src/FilterPropagation.scala:44-49``)
    over a key frame ``{k}`` with positional PK columns ``p0…`` and FK
    columns ``f0…``, so no user identifier enters the SQL text. Spark
    rejects ``UNION`` here; ``UNION ALL`` is exact because each row has
    one parent tuple, so each reachable row arrives once and a cycle is
    never reached from a NULL root. ``LIMIT ALL`` lifts the session's
    ``spark.sql.cteRecursionRowLimit``; ``MAX RECURSION LEVEL`` its
    level limit."""
    pks = ", ".join(f"p{i}" for i in range(n))
    roots = " AND ".join(f"f{i} IS NULL" for i in range(n))
    step = " AND ".join(f"t.f{i} = r.p{i}" for i in range(n))
    return (
        f"WITH RECURSIVE r({pks}) MAX RECURSION LEVEL 200 AS ("
        f"SELECT {pks} FROM {{k}} WHERE {roots} UNION ALL "
        f"SELECT {', '.join(f't.p{i}' for i in range(n))} "
        f"FROM {{k}} t JOIN r ON {step}) "
        f"SELECT {pks} FROM r LIMIT ALL"
    )


def self_ref_closure(
    base: DataFrame,
    fk: LogicalFK,
    driver_threshold: int = 50_000,
) -> DataFrame:
    """Transitive closure of rows reachable from NULL-FK roots through the
    self-ref chain, restricted to ``base`` (the filtered set) — the
    reference's recursive CTE (``src/FilterPropagation.scala:44-49``).
    Returns distinct PK tuples.

    Small filtered sets (<= ``driver_threshold`` key rows) compute the
    closure driver-side from one bounded Arrow fetch — the same philosophy
    as broadcast joins. Larger sets run the CTE in Spark, which reads
    ``base`` once per tree level: ``apply_subsetting`` passes its pinned
    subset rows, so none of those reads reaches the source.
    """
    n = len(fk.pk_columns)
    keys = base.select(
        *[F.col(_quoted(c)).alias(f"p{i}") for i, c in enumerate(fk.pk_columns)],
        *[F.col(_quoted(c)).alias(f"f{i}") for i, c in enumerate(fk.fk_columns)],
    )
    # Bounded probe: one job, at most threshold+1 rows on the driver, as
    # Arrow (no per-row Row objects). One partition keeps the limit a lazy
    # take, where a limit over many partitions would shuffle them into one
    # before Arrow collects it. A full result means the set exceeds the
    # threshold -> the CTE.
    probe = keys.coalesce(1).limit(driver_threshold + 1).toArrow()
    if probe.num_rows <= driver_threshold:
        reachable = _closure_on_driver(keys, n, probe)
    else:
        reachable = base.sparkSession.sql(_closure_sql(n), k=keys).distinct()
        reachable = reachable.localCheckpoint(eager=True)
    return reachable.toDF(*fk.pk_columns)


def _closure_on_driver(keys: DataFrame, n: int, probe: pa.Table) -> DataFrame:
    """BFS over the fetched (p…, f…) key tuples; result re-distributed as
    a DataFrame of the ``p…`` columns."""
    cols = [c.to_pylist() for c in probe.columns]
    children: dict[tuple, list[tuple]] = {}
    roots: list[tuple] = []
    for pk, parent in zip(zip(*cols[:n]), zip(*cols[n:])):
        if all(v is None for v in parent):
            roots.append(pk)
        else:
            children.setdefault(parent, []).append(pk)
    reachable: set[tuple] = set(roots)
    frontier = roots
    while frontier:
        nxt = []
        for pk in frontier:
            for child in children.get(pk, ()):
                if child not in reachable:
                    reachable.add(child)
                    nxt.append(child)
        frontier = nxt
    return keys.sparkSession.createDataFrame(
        sorted(reachable, key=lambda t: tuple(map(str, t))),
        keys.select(*[f"p{i}" for i in range(n)]).schema,
    )


def apply_subsetting(
    dfs: dict[str, DataFrame],
    catalog: Catalog,
    explicit_where: dict[str, str],
    max_parallel_tables: int = 8,
    write: Callable[[str, DataFrame], object] | None = None,
) -> dict[str, DataFrame]:
    """Return per-table DataFrames with explicit filters AND propagated
    FK subsetting applied — the Spark-native equivalent of the whole
    ``computePropagatedFilters`` + per-table WHERE execution.

    ``explicit_where`` values are raw Spark SQL fragments (matching the
    reference's opaque-string WHERE contract).

    Pins and self-ref closures are computed eagerly here, up to
    ``max_parallel_tables`` steps at a time (see the module's scale
    notes); a returned frame reads its table's pin, or else scans its own
    source table once, lazily. With ``write``, ``write(table, frame)`` is
    called for every table the sorter keeps, in FK order, from the same
    graph; the first exception stops it and is re-raised.
    """
    fks = [fk for fk in catalog.foreign_keys if fk.fk_table in dfs and fk.pk_table in dfs]
    cross = [fk for fk in fks if not fk.is_self_ref]
    parents = {fk.pk_table for fk in cross}
    tables = [t for level in sort_tables(list(dfs), fks) for t in level]

    out: dict[str, DataFrame] = dict(dfs)
    filtered: set[str] = set()

    def subset_one(table: str) -> None:
        eff = dfs[table]
        if table in explicit_where:
            eff = eff.where(F.expr(explicit_where[table]))
        for fk in cross:
            if fk.fk_table == table and fk.pk_table in filtered:
                eff = _fk_join(eff, out[fk.pk_table], fk, "left_semi")
        if eff is dfs[table]:
            return  # unfiltered: its write scans the source lazily
        self_fks = [fk for fk in fks if fk.fk_table == table and fk.is_self_ref]
        if self_fks or table in parents:
            # One source read: the closures, this table's write and its
            # children's semi-joins all read the pinned subset rows.
            pinned = eff.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
            eff = pinned
            for fk in self_fks:
                eff = keep_if_parent_in(eff, self_ref_closure(pinned, fk), fk)
        out[table] = eff
        filtered.add(table)

    def step(node: tuple[str, str]) -> None:
        kind, table = node
        if kind == "subset":
            subset_one(table)
        else:
            write(table, out[table])

    deps: dict[tuple[str, str], set[tuple[str, str]]] = {
        ("subset", t): {("subset", fk.pk_table) for fk in cross if fk.fk_table == t}
        for t in tables
    }
    if write is not None:
        for t in tables:
            deps[("write", t)] = {("subset", t)} | {
                ("write", fk.pk_table) for fk in cross if fk.fk_table == t}
    run_graph(deps, step, max_parallel_tables)
    return out
