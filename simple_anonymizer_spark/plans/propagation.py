"""FK filter propagation — subsetting children to match filtered parents.

Mirrors ``src/FilterPropagation.scala`` with two faithful implementations:

* ``compute_propagated_filters`` — the reference's SQL-string form (IN
  subqueries + WITH RECURSIVE CTEs). Used for golden-parity tests and for
  pushing subsetting INTO a JDBC source so PostgreSQL subsets before a
  single row crosses the wire (the reference's execution strategy and our
  JDBC-read strategy).
* ``apply_subsetting`` — the Spark-native form over DataFrames: cross-table
  propagation as **left-semi joins** against the filtered parent's pinned
  *key set* (transitivity falls out of processing tables in topological
  order), and self-referencing closure as an **iterative fixpoint** of
  semi-join/union steps matching the CTE semantics. NULL-FK semantics match
  SQL ``IN`` (rows with NULL FK drop under a cross-table parent filter;
  NULL-FK roots are kept by self-ref closure via the explicit
  ``fk IS NULL OR reachable`` disjunction).

Scale notes:

* Key sets. A filtered table with cross-table children is read once into
  the distinct projection of the columns its children reference, pinned
  with an eager ``localCheckpoint``; it is key-sized, not row-sized.
  Children semi-join the key set, never the parent's lazy plan, so no
  descendant re-reads an ancestor. A filtered self-ref table pins one key
  frame (self-ref PK/FK columns + child-referenced keys); the closures run
  over that frame and the children's key set is derived from it after the
  closures, with no further source read.
* Scan bound. Each returned frame scans only its own source table (plus
  checkpoints), so a whole copy scans each source table at most twice:
  once for its key set, if it has one, and once for its write.
* Tables of one topological level build their key sets concurrently.
* Semi-joins let Catalyst pick broadcast when the key set is small (the
  common case for subsetting — that's the whole point of subsetting); AQE
  converts to broadcast at runtime otherwise.
* Fixpoint iterations localCheckpoint the frontier to cut lineage growth;
  iteration count equals tree depth, and each step is a semi-join on the
  pinned key frame.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog, LogicalFK, quote_identifier
from .table_sorter import sort_tables
from .table_spec import WhereClause

# ---------------------------------------------------------------------------
# SQL-string form (reference parity; JDBC pushdown)
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


def _semi_join(child: DataFrame, parent: DataFrame, fk: LogicalFK) -> DataFrame:
    """Child rows whose FK tuple exists in the (filtered) parent's PK set."""
    keys = parent.select(
        *[F.col(pk).alias(f"__pk_{i}") for i, pk in enumerate(fk.pk_columns)]
    )
    cond = None
    for i, fkc in enumerate(fk.fk_columns):
        eq = child[fkc] == keys[f"__pk_{i}"]
        cond = eq if cond is None else cond & eq
    return child.join(keys, cond, "left_semi")


def _all_null(df: DataFrame, cols: list[str]) -> Column:
    cond = None
    for c in cols:
        n = F.col(c).isNull()
        cond = n if cond is None else cond & n
    return cond


def self_ref_closure(
    base: DataFrame,
    fk: LogicalFK,
    max_iter: int = 200,
    driver_threshold: int = 50_000,
) -> DataFrame:
    """Transitive closure of rows reachable from NULL-FK roots through the
    self-ref chain, restricted to ``base`` (the filtered set) — the
    DataFrame equivalent of the reference's recursive CTE
    (``src/FilterPropagation.scala:44-49``). Returns distinct PK tuples.

    Small filtered sets (<= ``driver_threshold`` key rows) compute the
    closure driver-side in one collect — the same philosophy as broadcast
    joins: a depth-D fixpoint costs ~3D Spark jobs, a BFS over collected
    keys costs two. Large sets use the distributed fixpoint. Both paths
    read ``base`` once per probe or step: ``apply_subsetting`` passes a
    pinned key frame, so none of those reads reaches the source.
    """
    key_frame = base.select(*fk.pk_columns, *fk.fk_columns)
    # Bounded probe: one job, at most threshold+1 rows on the driver. A
    # full result means the set exceeds the threshold -> distributed path.
    probe = key_frame.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        return _closure_on_driver(base, fk, probe)
    pk_cols = fk.pk_columns
    reachable = base.where(_all_null(base, fk.fk_columns)).select(*pk_cols)
    reachable = reachable.localCheckpoint(eager=True)
    frontier = reachable
    for _ in range(max_iter):
        keys = frontier.select(
            *[F.col(pk).alias(f"__r_{i}") for i, pk in enumerate(pk_cols)]
        )
        cond = None
        for i, fkc in enumerate(fk.fk_columns):
            eq = base[fkc] == keys[f"__r_{i}"]
            cond = eq if cond is None else cond & eq
        children = base.join(keys, cond, "left_semi").select(*pk_cols)
        new = children.subtract(reachable).localCheckpoint(eager=True)
        if new.isEmpty():
            return reachable
        reachable = reachable.union(new).localCheckpoint(eager=True)
        frontier = new
    raise RuntimeError(f"self-ref closure did not converge in {max_iter} iterations")


def _closure_on_driver(base: DataFrame, fk: LogicalFK, rows: list) -> DataFrame:
    """BFS over collected (pk, fk) key tuples; result re-distributed as a
    DataFrame with the original PK schema."""
    n_pk = len(fk.pk_columns)
    children: dict[tuple, list[tuple]] = {}
    roots: list[tuple] = []
    for r in rows:
        pk = tuple(r[i] for i in range(n_pk))
        parent = tuple(r[n_pk + i] for i in range(len(fk.fk_columns)))
        if all(v is None for v in parent):
            roots.append(pk)
        else:
            children.setdefault(parent, []).append(pk)
    reachable: set[tuple] = set()
    frontier = [pk for pk in roots]
    reachable.update(frontier)
    while frontier:
        nxt = []
        for pk in frontier:
            for child in children.get(pk, ()):
                if child not in reachable:
                    reachable.add(child)
                    nxt.append(child)
        frontier = nxt
    schema = base.select(*fk.pk_columns).schema
    return base.sparkSession.createDataFrame(
        [tuple(pk) for pk in sorted(reachable, key=lambda t: tuple(map(str, t)))],
        schema,
    )


def _keep_reachable(base: DataFrame, fk: LogicalFK, closure: DataFrame, tag: int) -> DataFrame:
    """``fk IS NULL OR (fk) IN closure`` via a left join against the closure
    PK set (unique tuples, so no row multiplication)."""
    marker_cols = [f"__c{tag}_{i}" for i in range(len(fk.pk_columns))]
    keys = closure.select(
        *[F.col(pk).alias(m) for pk, m in zip(fk.pk_columns, marker_cols)]
    )
    cond = None
    for fkc, m in zip(fk.fk_columns, marker_cols):
        eq = base[fkc] == keys[m]
        cond = eq if cond is None else cond & eq
    joined = base.join(keys, cond, "left")
    keep = _all_null(joined, fk.fk_columns) | F.col(marker_cols[0]).isNotNull()
    return joined.where(keep).drop(*marker_cols)


def _key_set(frame: DataFrame, cols: list[str], pk: frozenset[str]) -> DataFrame:
    """Distinct ``cols`` projection, pinned. A projection that covers the
    primary key is distinct already and skips the aggregation."""
    keys = frame.select(*cols)
    if not pk or not pk <= set(cols):
        keys = keys.distinct()
    return keys.localCheckpoint(eager=True)


def apply_subsetting(
    dfs: dict[str, DataFrame],
    catalog: Catalog,
    explicit_where: dict[str, str],
    max_parallel_tables: int = 8,
) -> dict[str, DataFrame]:
    """Return per-table DataFrames with explicit filters AND propagated
    FK subsetting applied — the Spark-native equivalent of the whole
    ``computePropagatedFilters`` + per-table WHERE execution.

    ``explicit_where`` values are raw Spark SQL fragments (matching the
    reference's opaque-string WHERE contract).

    Key sets and self-ref closures are computed eagerly here, up to
    ``max_parallel_tables`` tables of a level at a time (see the module's
    scale notes); the returned frames are lazy and each scans only its own
    source table plus checkpoints.
    """
    fks = [fk for fk in catalog.foreign_keys if fk.fk_table in dfs and fk.pk_table in dfs]
    referenced: dict[str, list[str]] = {}
    for fk in fks:
        if not fk.is_self_ref:
            cols = referenced.setdefault(fk.pk_table, [])
            cols.extend(c for c in fk.pk_columns if c not in cols)

    out: dict[str, DataFrame] = dict(dfs)
    key_sets: dict[str, DataFrame] = {}

    def subset_one(table: str) -> tuple[DataFrame, DataFrame | None]:
        eff = dfs[table]
        filtered = table in explicit_where
        if filtered:
            eff = eff.where(F.expr(explicit_where[table]))
        self_fks = []
        for fk in fks:
            if fk.fk_table != table:
                continue
            if fk.is_self_ref:
                self_fks.append(fk)
            elif fk.pk_table in key_sets:
                eff = _semi_join(eff, key_sets[fk.pk_table], fk)
                filtered = True
        child_cols = referenced.get(table)
        if not filtered or not (self_fks or child_cols):
            return eff, None
        kept = eff
        if self_fks:
            frame_cols = list(dict.fromkeys(
                [c for fk in self_fks for c in fk.pk_columns + fk.fk_columns]
                + (child_cols or [])
            ))
            frame = eff.select(*frame_cols).localCheckpoint(eager=True)
            kept = frame
            for tag, fk in enumerate(self_fks):
                closure = self_ref_closure(frame, fk)
                eff = _keep_reachable(eff, fk, closure, tag)
                kept = _keep_reachable(kept, fk, closure, tag)
        if not child_cols:
            return eff, None
        pk = catalog.primary_keys.get(table, frozenset())
        return eff, _key_set(kept, child_cols, pk)

    levels = sort_tables(list(dfs), fks)
    with ThreadPoolExecutor(max_workers=max_parallel_tables) as pool:
        for level in levels:
            # Drain the level before publishing its key sets: its tables
            # read ``key_sets`` concurrently.
            for table, (eff, keys) in zip(level, list(pool.map(subset_one, level))):
                out[table] = eff
                if keys is not None:
                    key_sets[table] = keys
    return out
