"""Protocol-level in-memory/file-backed PostgreSQL fake for integration
tests of the JDBC wire layer.

The container ships no Postgres server or driver, so the wire layer
(``sources/jdbc.py``) could only ever be unit-tested against SQL goldens.
This module implements the *server side* of every protocol interaction the
product emits, with real semantics, so the reference's integration suite
(``integration-tests/src/scala/simpleanonymizer/DbCopierIntegrationTest.scala``,
``TableCopierIntegrationTest.scala``) can be ported and executed for real:

* DB-API 2.0 connections/cursors (``execute`` / ``executemany`` /
  ``fetchone`` / ``fetchall`` / ``commit`` / ``rollback``), ``%s`` params;
* transactions with an op log: immediate vs deferred constraint checking,
  rollback discards, commit replays atomically;
* MVCC-lite snapshots: ``pg_export_snapshot()`` freezes a copy,
  ``SET TRANSACTION SNAPSHOT '<id>'`` pins another connection to it — so
  snapshot-pinned parallel partition reads are tested against concurrent
  committed writes, like the reference's REPEATABLE READ coordinator
  (``src/DbCopier.scala:130-145``);
* ``INSERT ... ON CONFLICT`` (column target / ``ON CONSTRAINT`` / PK
  default) with DO NOTHING and DO UPDATE SET c = EXCLUDED.c;
* serial columns backed by sequences: ``nextval`` on omitted columns,
  non-transactional ``setval(seq, v, false)`` (sequence ops survive
  rollback, as in PG);
* ``ALTER TABLE ... ALTER CONSTRAINT ... DEFERRABLE INITIALLY DEFERRED``
  and restore, plus ``SET CONSTRAINTS ALL DEFERRED|IMMEDIATE``;
* the five pg_catalog/information_schema introspection queries of
  ``sources.jdbc`` answered by exact text match (the fake knows the
  catalog contract, it does not parse those joins);
* jsonb canonicalization: object keys deduplicated (last wins) and sorted
  by (length, bytes) exactly like PG's jsonb storage order — tests that
  assert key-order behavior through the wire are honest;
* PG-phrased IntegrityError messages (duplicate key / FK violation).

State lives in a pickle file guarded by ``fcntl`` locks, so Spark
executor *processes* running ``df.foreachPartition`` share one database —
the product's real write path (``sources.jdbc.write_jdbc``) runs
unmodified, across process boundaries, with per-partition transactions.

This is test infrastructure with production semantics, not a toy: the
SELECT evaluator covers the verification-query grammar (projection,
aggregates, DISTINCT, WHERE with AND/OR/IN/IS NULL, ORDER BY, LIMIT) and
nothing more by design.
"""

from __future__ import annotations

import copy
import fcntl
import json
import os
import pickle
import re
import threading
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Iterator


class FakePGError(Exception):
    pass


class IntegrityError(FakePGError):
    pass


class ProgrammingError(FakePGError):
    pass


# ---------------------------------------------------------------------------
# Schema objects
# ---------------------------------------------------------------------------


@dataclass
class ColumnDef:
    name: str
    data_type: str = "text"  # text | integer | bigint | numeric | double | boolean | jsonb
    serial: bool = False  # backed by a sequence used for omitted values


@dataclass
class FKDef:
    name: str
    table: str
    columns: tuple[str, ...]
    ref_table: str
    ref_columns: tuple[str, ...]
    deferrable: bool = False
    initially_deferred: bool = False


@dataclass
class TableDef:
    name: str
    columns: list[ColumnDef]
    primary_key: tuple[str, ...] = ()
    uniques: dict[str, tuple[str, ...]] = field(default_factory=dict)

    @property
    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]

    @property
    def pkey_name(self) -> str:
        return f"{self.name}_pkey"


def _pg_jsonb_canonical(text: str) -> str:
    """Re-serialize JSON the way PG stores jsonb: duplicate object keys
    deduplicated (last wins), keys ordered by (length, bytes)."""

    def order(v):
        if isinstance(v, dict):
            return {
                k: order(v[k])
                for k in sorted(v, key=lambda k: (len(k.encode()), k.encode()))
            }
        if isinstance(v, list):
            return [order(x) for x in v]
        return v

    return json.dumps(order(json.loads(text)), separators=(", ", ": "),
                      ensure_ascii=False)


def _coerce(col: ColumnDef, value: Any) -> Any:
    if value is None:
        return None
    base = col.data_type.split("(")[0].strip().lower()
    if base in ("integer", "bigint", "smallint", "int", "int4", "int8"):
        return int(value)
    if base in ("numeric", "decimal"):
        return Decimal(str(value))
    if base in ("double", "double precision", "float8", "real"):
        return float(value)
    if base in ("boolean", "bool"):
        return bool(value)
    if base == "jsonb":
        return _pg_jsonb_canonical(value if isinstance(value, str) else json.dumps(value))
    return str(value)


# ---------------------------------------------------------------------------
# Server state (pickled to disk; every access under an fcntl lock)
# ---------------------------------------------------------------------------


@dataclass
class _State:
    tables: dict[str, TableDef] = field(default_factory=dict)
    fks: dict[str, FKDef] = field(default_factory=dict)  # by constraint name
    rows: dict[str, list[dict]] = field(default_factory=dict)
    sequences: dict[str, int] = field(default_factory=dict)  # next value
    seq_of: dict[tuple[str, str], str] = field(default_factory=dict)  # (table, col) -> seq
    snapshots: dict[str, dict[str, list[dict]]] = field(default_factory=dict)
    snapshot_counter: int = 0


class FakePostgres:
    """Schema builder + handle on the shared state file."""

    # Read through spark.read.format(datasource_format)
    # .options(**datasource_options()) — sources/pyds.py.
    datasource_format = "fakepg"

    def __init__(self, path: str):
        self.path = str(path)
        if not os.path.exists(self.path):
            _save(self.path, _State())

    # -- schema DDL (Python API; fixture setup doesn't go through SQL) ----

    def create_table(
        self,
        name: str,
        columns: list[tuple[str, str]],
        primary_key: list[str] | None = None,
        serial: str | None = None,
        uniques: dict[str, list[str]] | None = None,
    ) -> None:
        with _locked(self.path) as state:
            cols = [
                ColumnDef(n, t, serial=(n == serial)) for n, t in columns
            ]
            state.tables[name] = TableDef(
                name, cols, tuple(primary_key or ()),
                {k: tuple(v) for k, v in (uniques or {}).items()},
            )
            state.rows[name] = []
            if serial:
                seq = f"{name}_{serial}_seq"
                state.sequences[seq] = 1
                state.seq_of[(name, serial)] = seq

    def add_foreign_key(
        self, name: str, table: str, columns: list[str],
        ref_table: str, ref_columns: list[str],
    ) -> None:
        with _locked(self.path) as state:
            state.fks[name] = FKDef(name, table, tuple(columns),
                                    ref_table, tuple(ref_columns))

    def load(self, table: str, rows: list[dict]) -> None:
        """Fixture loader: insert without constraint checks (the reference
        loads children-before-parents via INSERT-then-UPDATE; we load final
        rows directly)."""
        with _locked(self.path) as state:
            tdef = state.tables[table]
            for r in rows:
                state.rows[table].append(
                    {c.name: _coerce(c, r.get(c.name)) for c in tdef.columns}
                )
                # keep serial sequences behind max loaded id, like restoring
                # a dump without setval: the sequence-reset tests rely on it.

    def dump(self, table: str) -> list[dict]:
        with _locked(self.path) as state:
            return copy.deepcopy(state.rows[table])

    def connect(self) -> "FakeConnection":
        return FakeConnection(self.path)

    def connect_factory(self):
        """Picklable zero-arg connect callable (executor-side safe) — the
        common backend contract shared with ``pgwire``-backed live servers
        so the integration suite runs unchanged against either."""
        import functools

        return functools.partial(connect, self.path)

    def constraint_state(self, name: str) -> tuple[bool, bool]:
        """(deferrable, initially_deferred) for a named FK — test hook
        mirroring the live tier's pg_constraint query."""
        with _locked(self.path) as state:
            fk = state.fks[name]
            return fk.deferrable, fk.initially_deferred

    def datasource_options(self) -> dict[str, str]:
        return {"path": self.path}


def connect(path: str) -> "FakeConnection":
    """Module-level DB-API connect — picklable for foreachPartition via
    ``functools.partial(fakepg.connect, path)``."""
    return FakeConnection(path)


def _save(path: str, state: _State) -> None:
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(state, f)
    os.replace(tmp, path)


class _locked:
    """Exclusive cross-process lock over the state file; mutations inside
    the block are persisted on clean exit."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self) -> _State:
        self.lockf = open(self.path + ".lock", "w")
        fcntl.flock(self.lockf, fcntl.LOCK_EX)
        with open(self.path, "rb") as f:
            self.state = pickle.load(f)
        return self.state

    def __exit__(self, exc_type, exc, tb):
        try:
            if exc_type is None:
                _save(self.path, self.state)
        finally:
            fcntl.flock(self.lockf, fcntl.LOCK_UN)
            self.lockf.close()
        return False


# ---------------------------------------------------------------------------
# SQL tokenizing / literals
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<qident>"(?:[^"]|"")*")
      | (?P<str>'(?:[^']|'')*')
      | (?P<num>-?\d+\.\d+|-?\d+)
      | (?P<word>[A-Za-z_][A-Za-z_0-9$]*)
      | (?P<op><=|>=|<>|!=|=|<|>|\(|\)|,|\*|\+|;|\.|%s)
    )""",
    re.VERBOSE,
)


def _tokenize(sql: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            if sql[pos:].strip() == "":
                break
            raise ProgrammingError(f"syntax error near: {sql[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
    return out


def _split_statements(sql: str) -> list[str]:
    """Split on top-level ';' (sessionInitStatement carries two)."""
    parts, depth, cur, i = [], 0, [], 0
    in_s = in_q = False
    while i < len(sql):
        ch = sql[i]
        if in_s:
            cur.append(ch)
            if ch == "'":
                in_s = False
        elif in_q:
            cur.append(ch)
            if ch == '"':
                in_q = False
        elif ch == "'":
            in_s = True
            cur.append(ch)
        elif ch == '"':
            in_q = True
            cur.append(ch)
        elif ch == ";":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _unquote_ident(tok: str) -> str:
    if tok.startswith('"'):
        return tok[1:-1].replace('""', '"')
    return tok  # PG lowercases unquoted idents; our fixtures are lowercase


def _unquote_str(tok: str) -> str:
    return tok[1:-1].replace("''", "'")


def _norm(sql: str) -> str:
    return " ".join(sql.split())


# ---------------------------------------------------------------------------
# Expression parsing/eval (verification-query WHERE grammar)
# ---------------------------------------------------------------------------


class _ExprParser:
    """Recursive descent over tokens: OR / AND / NOT / comparisons /
    IN (...) / IS [NOT] NULL / parens."""

    def __init__(self, tokens: list[tuple[str, str]], params: list | None):
        self.toks = tokens
        self.i = 0
        self.params = list(params or [])

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def at_word(self, *words) -> bool:
        k, v = self.peek()
        return k == "word" and v.upper() in words

    def parse(self):
        node = self.or_expr()
        return node

    def or_expr(self):
        left = self.and_expr()
        while self.at_word("OR"):
            self.next()
            right = self.and_expr()
            left = ("or", left, right)
        return left

    def and_expr(self):
        left = self.unary()
        while self.at_word("AND"):
            self.next()
            right = self.unary()
            left = ("and", left, right)
        return left

    def unary(self):
        if self.at_word("NOT"):
            self.next()
            return ("not", self.unary())
        return self.comparison()

    def operand(self):
        k, v = self.next()
        if k == "qident":
            return ("col", _unquote_ident(v))
        if k == "word":
            return ("col", v)
        if k == "str":
            return ("lit", _unquote_str(v))
        if k == "num":
            return ("lit", float(v) if "." in v else int(v))
        if k == "op" and v == "%s":
            return ("lit", self.params.pop(0))
        if k == "op" and v == "(":
            node = self.or_expr()
            self.expect(")")
            return node
        raise ProgrammingError(f"unexpected token {v!r}")

    def expect(self, op):
        k, v = self.next()
        if v != op:
            raise ProgrammingError(f"expected {op!r}, got {v!r}")

    def comparison(self):
        if self.peek()[1] == "(":
            # could be parenthesized boolean expr
            save = self.i
            self.next()
            node = self.or_expr()
            self.expect(")")
            # if followed by a comparison op, it was an operand paren — rare;
            # the saved path handles boolean grouping which is what we emit.
            del save
            return node
        left = self.operand()
        k, v = self.peek()
        if k == "word" and v.upper() == "IS":
            self.next()
            neg = False
            if self.at_word("NOT"):
                self.next()
                neg = True
            kw = self.next()
            if kw[1].upper() != "NULL":
                raise ProgrammingError("expected NULL after IS")
            return ("isnull", left, neg)
        if k == "word" and v.upper() in ("IN", "NOT"):
            neg = v.upper() == "NOT"
            self.next()
            if neg:
                kw = self.next()
                if kw[1].upper() != "IN":
                    raise ProgrammingError("expected IN after NOT")
            self.expect("(")
            items = [self.operand()]
            while self.peek()[1] == ",":
                self.next()
                items.append(self.operand())
            self.expect(")")
            return ("in", left, items, neg)
        if k == "op" and v in ("=", "!=", "<>", "<", "<=", ">", ">="):
            self.next()
            right = self.operand()
            return ("cmp", v, left, right)
        return left  # bare boolean column


def _eval(node, row: dict):
    kind = node[0]
    if kind == "col":
        name = node[1]
        if name not in row:
            raise ProgrammingError(f'column "{name}" does not exist')
        return row[name]
    if kind == "lit":
        return node[1]
    if kind == "and":
        return bool(_eval(node[1], row)) and bool(_eval(node[2], row))
    if kind == "or":
        return bool(_eval(node[1], row)) or bool(_eval(node[2], row))
    if kind == "not":
        return not bool(_eval(node[1], row))
    if kind == "isnull":
        v = _eval(node[1], row)
        return (v is not None) if node[2] else (v is None)
    if kind == "in":
        v = _eval(node[1], row)
        vals = [_eval(x, row) for x in node[2]]
        hit = any(v == _numcmp(v, x) for x in vals)
        return (not hit) if node[3] else hit
    if kind == "cmp":
        op, left, right = node[1], node[2], node[3]
        lv, rv = _eval(left, row), _eval(right, row)
        if lv is None or rv is None:
            return False  # SQL three-valued logic collapses to not-selected
        rv = _numcmp(lv, rv)
        lv = _numcmp(rv, lv)
        return {
            "=": lv == rv, "!=": lv != rv, "<>": lv != rv,
            "<": lv < rv, "<=": lv <= rv, ">": lv > rv, ">=": lv >= rv,
        }[op]
    raise ProgrammingError(f"cannot evaluate {node!r}")


def _numcmp(template, value):
    """Coerce numeric literals so 3 == Decimal('3') and 3 == 3.0 compare."""
    if isinstance(template, (int, float, Decimal)) and isinstance(value, (int, float, Decimal)):
        return Decimal(str(value))
    return value


def _where_filter(rows: list[dict], where_tokens, params) -> list[dict]:
    if not where_tokens:
        return list(rows)
    ast = _ExprParser(where_tokens, params).parse()
    return [r for r in rows if _eval(ast, r) is True]


# ---------------------------------------------------------------------------
# Connection / cursor
# ---------------------------------------------------------------------------


_SETVAL_RE = re.compile(
    r"SELECT setval\('(?P<seq>[^']+)', coalesce\(max\((?P<col>\"(?:[^\"]|\"\")*\")\), 0\) \+ 1, "
    r"false\) FROM (?P<tbl>\S+)",
)
_ALTER_RE = re.compile(
    r'ALTER TABLE (?P<tbl>.+?) ALTER CONSTRAINT (?P<con>"(?:[^"]|"")*") (?P<mode>.+)$'
)
_DELETE_ALL_RE = re.compile(r"DELETE FROM (?P<tbl>\S+)$")


class _Txn:
    def __init__(self, base: dict[str, list[dict]] | None, frozen: bool):
        self.base = base  # None => read latest committed each statement
        self.frozen = frozen
        self.ops: list[tuple] = []  # ("insert", table, row, oc_tuple)
        self.all_deferred = False
        self.all_immediate = False


class FakeConnection:
    def __init__(self, path: str):
        self.path = path
        self.autocommit = False
        self.closed = False
        self._txn: _Txn | None = None
        self._work: dict[str, list[dict]] | None = None
        self._lock = threading.Lock()

    # -- DB-API surface ---------------------------------------------------

    def cursor(self) -> "FakeCursor":
        if self.closed:
            raise ProgrammingError("connection is closed")
        return FakeCursor(self)

    def commit(self) -> None:
        txn = self._txn
        if txn is None:
            return
        try:
            with _locked(self.path) as state:
                _replay(state, txn)
        finally:
            # A failed COMMIT aborts the transaction, as in PG.
            self._txn = None
            self._work = None

    def rollback(self) -> None:
        self._txn = None
        self._work = None

    def close(self) -> None:
        # PG discards an uncommitted transaction on disconnect.
        self.rollback()
        self.closed = True

    # -- internals --------------------------------------------------------

    def _ensure_txn(self) -> _Txn:
        if self._txn is None:
            self._txn = _Txn(base=None, frozen=False)
        return self._txn

    def _visible(self, state: _State) -> dict[str, list[dict]]:
        """Rows visible to the current statement: pinned/frozen base or
        latest committed, plus this txn's own uncommitted ops."""
        txn = self._ensure_txn()
        if txn.frozen and txn.base is not None:
            base = copy.deepcopy(txn.base)
        else:
            base = copy.deepcopy(state.rows)
        work = base
        for op in txn.ops:
            _apply_insert(state, work, op, check_immediate=False)
        return work


def _unique_violation(state: _State, work_rows: list[dict], tdef: TableDef,
                      row: dict) -> tuple[str, tuple[str, ...], int] | None:
    """First violated unique constraint: (name, cols, index-of-existing)."""
    targets = []
    if tdef.primary_key:
        targets.append((tdef.pkey_name, tdef.primary_key))
    targets.extend(tdef.uniques.items())
    for name, cols in targets:
        key = tuple(row.get(c) for c in cols)
        if any(k is None for k in key):
            continue
        for idx, existing in enumerate(work_rows):
            if tuple(existing.get(c) for c in cols) == key:
                return name, cols, idx
    return None


def _fk_ok(work: dict[str, list[dict]], fk: FKDef, row: dict) -> bool:
    vals = tuple(row.get(c) for c in fk.columns)
    if any(v is None for v in vals):  # MATCH SIMPLE
        return True
    for parent in work.get(fk.ref_table, []):
        if tuple(parent.get(c) for c in fk.ref_columns) == vals:
            return True
    return False


def _apply_insert(state: _State, work: dict[str, list[dict]], op: tuple,
                  check_immediate: bool, deferred_out: list | None = None,
                  txn: _Txn | None = None) -> dict | None:
    """Apply one insert op to ``work``; returns the row actually inserted
    (None when ON CONFLICT DO NOTHING skipped it)."""
    if op[0] == "delete_all":
        # Whole-table DELETE (the overwrite-sink statement). RESTRICT
        # semantics: surviving child rows referencing the cleared table
        # violate the FK, exactly as a real DELETE would.
        _, table = op[0], op[1]
        work[table] = []
        if check_immediate:
            for fk in state.fks.values():
                if fk.ref_table != table:
                    continue
                for child in work.get(fk.table, []):
                    if not _fk_ok(work, fk, child):
                        raise IntegrityError(
                            f'update or delete on table "{table}" violates '
                            f'foreign key constraint "{fk.name}" on table '
                            f'"{fk.table}"'
                        )
        return None
    _, table, row, oc = op
    tdef = state.tables[table]
    # Materialize serial defaults (non-transactional nextval) and type
    # coercions INTO the op's row dict, so commit-replay and visibility
    # replays reuse the same values instead of re-drawing the sequence.
    # (_coerce is idempotent; the sequence draw is gated on absence.)
    for col in tdef.columns:
        if col.serial and col.name not in row:
            seq = state.seq_of[(table, col.name)]
            row[col.name] = state.sequences[seq]
            state.sequences[seq] += 1
    materialized = {c.name: _coerce(c, row.get(c.name)) for c in tdef.columns}
    row.clear()
    row.update(materialized)
    row = dict(row)

    work_rows = work.setdefault(table, [])
    violation = _unique_violation(state, work_rows, tdef, row)
    if violation is not None:
        name, cols, idx = violation
        if oc is None:
            raise IntegrityError(
                f'duplicate key value violates unique constraint "{name}"'
            )
        action, target_cols, constraint, set_cols = oc
        matches = (
            (constraint is not None and constraint == name)
            or (not constraint and not target_cols)  # bare ON CONFLICT
            or (tuple(sorted(target_cols)) == tuple(sorted(cols)))
        )
        if not matches:
            raise IntegrityError(
                f'duplicate key value violates unique constraint "{name}"'
            )
        if action == "nothing":
            return None
        updated = dict(work_rows[idx])
        for c in set_cols:
            updated[c] = row[c]
        work_rows[idx] = updated
        return updated

    # FK checks: immediate unless constraint (or txn) is deferred
    for fk in state.fks.values():
        if fk.table != table:
            continue
        deferred = fk.initially_deferred
        if txn is not None:
            if txn.all_deferred and fk.deferrable:
                deferred = True
            if txn.all_immediate:
                deferred = False
        if deferred or not check_immediate:
            if deferred_out is not None:
                deferred_out.append((fk.name, table, row))
            continue
        if not _fk_ok(work, fk, row):
            raise IntegrityError(
                f'insert or update on table "{table}" violates foreign key '
                f'constraint "{fk.name}"'
            )
    work_rows.append(row)
    return row


def _replay(state: _State, txn: _Txn) -> None:
    """Commit: re-apply the op log onto current committed state; deferred
    FK constraints checked on the final candidate."""
    work = copy.deepcopy(state.rows)
    deferred: list[tuple] = []
    for op in txn.ops:
        _apply_insert(state, work, op, check_immediate=True,
                      deferred_out=deferred, txn=txn)
    for fk_name, table, row in deferred:
        fk = state.fks[fk_name]
        if not _fk_ok(work, fk, row):
            raise IntegrityError(
                f'insert or update on table "{table}" violates foreign key '
                f'constraint "{fk.name}"'
            )
    state.rows = work


class FakeCursor:
    def __init__(self, conn: FakeConnection):
        self.conn = conn
        self._result: list[tuple] = []
        self._idx = 0
        self.rowcount = -1

    # -- DB-API -----------------------------------------------------------

    def execute(self, sql: str, params=None) -> None:
        for stmt in _split_statements(sql):
            self._execute_one(stmt, params)

    def executemany(self, sql: str, seq_of_params) -> None:
        for params in seq_of_params:
            self.execute(sql, params)

    def fetchone(self):
        if self._idx >= len(self._result):
            return None
        row = self._result[self._idx]
        self._idx += 1
        return row

    def fetchall(self):
        rows = self._result[self._idx:]
        self._idx = len(self._result)
        return rows

    def close(self):
        pass

    def __iter__(self) -> Iterator[tuple]:
        return iter(self.fetchall())

    # -- dispatch ---------------------------------------------------------

    def _execute_one(self, sql: str, params) -> None:
        conn = self.conn
        if conn.closed:
            raise ProgrammingError("connection is closed")
        norm = _norm(sql)
        upper = norm.upper()

        # --- transaction control / snapshots -----------------------------
        if upper.startswith("BEGIN"):
            txn = conn._ensure_txn()
            if ("REPEATABLE READ" in upper or "SERIALIZABLE" in upper) \
                    and txn.base is None:
                with _locked(conn.path) as state:
                    txn.base = copy.deepcopy(state.rows)
                txn.frozen = True
            return
        if upper in ("COMMIT", "END"):
            conn.commit()
            return
        if upper == "ROLLBACK":
            conn.rollback()
            return
        if upper.startswith("SET TRANSACTION ISOLATION LEVEL"):
            txn = conn._ensure_txn()
            if "REPEATABLE READ" in upper or "SERIALIZABLE" in upper:
                if txn.base is None:
                    with _locked(conn.path) as state:
                        txn.base = copy.deepcopy(state.rows)
                    txn.frozen = True
            return
        if upper.startswith("SET TRANSACTION SNAPSHOT"):
            m = re.search(r"'([^']+)'", norm)
            txn = conn._ensure_txn()
            with _locked(conn.path) as state:
                if not m or m.group(1) not in state.snapshots:
                    raise ProgrammingError(
                        f"invalid snapshot identifier: {norm}"
                    )
                txn.base = copy.deepcopy(state.snapshots[m.group(1)])
            txn.frozen = True
            return
        if "PG_EXPORT_SNAPSHOT" in upper:
            txn = conn._ensure_txn()
            with _locked(conn.path) as state:
                if txn.base is None:
                    txn.base = copy.deepcopy(state.rows)
                    txn.frozen = True
                state.snapshot_counter += 1
                snap_id = f"{state.snapshot_counter:08X}-1"
                state.snapshots[snap_id] = copy.deepcopy(txn.base)
            self._result, self._idx = [(snap_id,)], 0
            return
        if upper.startswith("SET CONSTRAINTS ALL DEFERRED"):
            conn._ensure_txn().all_deferred = True
            return
        if upper.startswith("SET CONSTRAINTS ALL IMMEDIATE"):
            conn._ensure_txn().all_immediate = True
            return

        # --- catalog introspection (matched by contract text) ------------
        from . import jdbc as _j

        catalog_map = {
            _norm(_j.TABLES_SQL): self._answer_tables,
            _norm(_j.COLUMNS_SQL): self._answer_columns,
            _norm(_j.PRIMARY_KEYS_SQL): self._answer_pks,
            _norm(_j.FOREIGN_KEYS_SQL): self._answer_fks,
            _norm(_j.SEQUENCES_SQL): self._answer_sequences,
        }
        if norm in catalog_map:
            with _locked(conn.path) as state:
                self._result = catalog_map[norm](state)
            self._idx = 0
            return

        # --- setval ------------------------------------------------------
        m = _SETVAL_RE.match(norm)
        if m:
            col = _unquote_ident(m.group("col"))
            table = self._table_name(m.group("tbl"))
            with _locked(conn.path) as state:
                visible = conn._visible(state)
                if m.group("seq") not in state.sequences:
                    raise ProgrammingError(
                        f'relation "{m.group("seq")}" does not exist'
                    )
                vals = [r[col] for r in visible.get(table, []) if r.get(col) is not None]
                nxt = (max(vals) if vals else 0) + 1
                state.sequences[m.group("seq")] = int(nxt)
            self._result, self._idx = [(nxt,)], 0
            return

        # --- ALTER CONSTRAINT --------------------------------------------
        m = _ALTER_RE.match(norm)
        if m:
            con = _unquote_ident(m.group("con"))
            mode = m.group("mode").upper()
            with _locked(conn.path) as state:
                if con not in state.fks:
                    raise ProgrammingError(
                        f'constraint "{con}" of relation does not exist'
                    )
                fk = state.fks[con]
                if "NOT DEFERRABLE" in mode:
                    fk.deferrable = False
                    fk.initially_deferred = False
                else:
                    fk.deferrable = True
                    fk.initially_deferred = "INITIALLY DEFERRED" in mode
            return

        # --- DML ----------------------------------------------------------
        if upper.startswith("INSERT INTO"):
            self._insert(norm, params)
            return
        if upper.startswith("SELECT"):
            self._select(norm, params)
            return
        m = _DELETE_ALL_RE.match(norm)
        if m:
            table = self._table_name(m.group("tbl"))
            conn = self.conn
            txn = conn._ensure_txn()
            with _locked(conn.path) as state:
                if table not in state.tables:
                    raise ProgrammingError(
                        f'relation "{table}" does not exist'
                    )
            txn.ops.append(("delete_all", table, None, None))
            return
        raise ProgrammingError(f"unsupported statement: {norm[:80]}")

    # -- catalog answers --------------------------------------------------

    @staticmethod
    def _answer_tables(state: _State):
        return [(t,) for t in sorted(state.tables)]

    @staticmethod
    def _answer_columns(state: _State):
        out = []
        for t in sorted(state.tables):
            for c in state.tables[t].columns:
                out.append((t, c.name, c.data_type))
        return out

    @staticmethod
    def _answer_pks(state: _State):
        out = []
        for t in sorted(state.tables):
            for c in state.tables[t].primary_key:
                out.append((t, c))
        return out

    @staticmethod
    def _answer_fks(state: _State):
        out = []
        for fk in state.fks.values():
            for i, (c, rc) in enumerate(zip(fk.columns, fk.ref_columns), 1):
                out.append((fk.name, fk.table, fk.ref_table, c, rc, i))
        return out

    @staticmethod
    def _answer_sequences(state: _State):
        return [
            (t, c, seq) for (t, c), seq in sorted(state.seq_of.items())
        ]

    # -- INSERT -----------------------------------------------------------

    _INSERT_RE = re.compile(
        r"INSERT INTO (?P<tbl>.+?) \((?P<cols>.+?)\) VALUES \((?P<vals>.+?)\)"
        r"(?: (?P<tail>ON CONFLICT .*?))?(?: RETURNING (?P<ret>.+))?$"
    )

    def _insert(self, norm: str, params) -> None:
        m = self._INSERT_RE.match(norm)
        if not m:
            raise ProgrammingError(f"cannot parse INSERT: {norm[:80]}")
        table = self._table_name(m.group("tbl"))
        cols = [
            _unquote_ident(t[1])
            for t in _tokenize(m.group("cols"))
            if t[0] in ("qident", "word")
        ]
        value_toks = _tokenize(m.group("vals"))
        values, params = self._parse_values(value_toks, list(params or []))
        if len(values) != len(cols):
            raise ProgrammingError("INSERT column/value count mismatch")
        oc = self._parse_on_conflict(m.group("tail")) if m.group("tail") else None

        conn = self.conn
        txn = conn._ensure_txn()
        row = dict(zip(cols, values))
        op = ("insert", table, row, oc)
        with _locked(conn.path) as state:
            if table not in state.tables:
                raise ProgrammingError(f'relation "{table}" does not exist')
            tdef = state.tables[table]
            unknown = [c for c in cols if c not in tdef.column_names]
            if unknown:
                raise ProgrammingError(
                    f'column "{unknown[0]}" of relation "{table}" does not exist'
                )
            # immediate checks against the visible state (own ops included)
            work = conn._visible(state)
            inserted = _apply_insert(state, work, op, check_immediate=True,
                                     deferred_out=[], txn=txn)
            # sequences consumed by the probe apply even on rollback (PG
            # semantics) — _apply_insert already bumped them in `state`,
            # and _locked persists state on exit.
        txn.ops.append(op)
        self.rowcount = 1 if inserted is not None else 0
        if m.group("ret"):
            ret_cols = [
                _unquote_ident(t[1])
                for t in _tokenize(m.group("ret"))
                if t[0] in ("qident", "word")
            ]
            if inserted is None:
                self._result, self._idx = [], 0
            else:
                self._result = [tuple(inserted[c] for c in ret_cols)]
                self._idx = 0
        if conn.autocommit:
            conn.commit()

    @staticmethod
    def _parse_values(toks, params):
        values = []
        for kind, tok in toks:
            if kind == "op" and tok == "%s":
                values.append(params.pop(0))
            elif kind == "str":
                values.append(_unquote_str(tok))
            elif kind == "num":
                values.append(float(tok) if "." in tok else int(tok))
            elif kind == "word" and tok.upper() == "NULL":
                values.append(None)
            elif kind == "word" and tok.upper() in ("TRUE", "FALSE"):
                values.append(tok.upper() == "TRUE")
            elif kind == "op" and tok == ",":
                continue
            else:
                raise ProgrammingError(f"unsupported VALUES token {tok!r}")
        return values, params

    @staticmethod
    def _parse_on_conflict(tail: str):
        """Returns (action, target_cols, constraint, set_cols)."""
        m = re.match(
            r"ON CONFLICT"
            r"(?: ON CONSTRAINT (?P<con>\"(?:[^\"]|\"\")*\"|\w+)"
            r"| \((?P<cols>[^)]*)\))?"
            r" DO (?P<action>NOTHING|UPDATE SET (?P<sets>.+))$",
            tail,
        )
        if not m:
            raise ProgrammingError(f"cannot parse ON CONFLICT: {tail!r}")
        constraint = _unquote_ident(m.group("con")) if m.group("con") else None
        target_cols = tuple(
            _unquote_ident(t[1])
            for t in _tokenize(m.group("cols") or "")
            if t[0] in ("qident", "word")
        )
        if m.group("action") == "NOTHING":
            return ("nothing", target_cols, constraint, ())
        sets = []
        for part in m.group("sets").split(","):
            lhs, rhs = part.split("=", 1)
            col = _unquote_ident(_tokenize(lhs)[0][1])
            rhs_norm = _norm(rhs)
            expect = f"EXCLUDED.{quote_like(col)}"
            if _norm_ident(rhs_norm) != _norm_ident(expect):
                raise ProgrammingError(
                    f"only c = EXCLUDED.c assignments supported, got {part!r}"
                )
            sets.append(col)
        return ("update", target_cols, constraint, tuple(sets))

    # -- SELECT -----------------------------------------------------------

    def _select(self, norm: str, params) -> None:
        toks = _tokenize(norm)
        i = 1  # skip SELECT
        distinct = False
        if toks[i][0] == "word" and toks[i][1].upper() == "DISTINCT":
            distinct = True
            i += 1
        # projection until FROM
        proj_toks = []
        while i < len(toks) and not (
            toks[i][0] == "word" and toks[i][1].upper() == "FROM"
        ):
            proj_toks.append(toks[i])
            i += 1
        if i == len(toks):
            raise ProgrammingError("SELECT without FROM not supported")
        i += 1  # FROM
        # table name: tokens until WHERE/ORDER/LIMIT or end; may be
        # "schema"."table" (qident . qident) or subquery-free name
        tbl_toks = []
        while i < len(toks) and not (
            toks[i][0] == "word"
            and toks[i][1].upper() in ("WHERE", "ORDER", "LIMIT")
        ):
            tbl_toks.append(toks[i])
            i += 1
        table = self._table_name(
            " ".join(t[1] for t in tbl_toks)
        )
        where_toks = []
        if i < len(toks) and toks[i][1].upper() == "WHERE":
            i += 1
            while i < len(toks) and not (
                toks[i][0] == "word" and toks[i][1].upper() in ("ORDER", "LIMIT")
            ):
                where_toks.append(toks[i])
                i += 1
        order_col, order_desc = None, False
        if i < len(toks) and toks[i][1].upper() == "ORDER":
            i += 2  # ORDER BY
            order_col = _unquote_ident(toks[i][1])
            i += 1
            if i < len(toks) and toks[i][0] == "word" and toks[i][1].upper() in ("ASC", "DESC"):
                order_desc = toks[i][1].upper() == "DESC"
                i += 1
        limit = None
        if i < len(toks) and toks[i][1].upper() == "LIMIT":
            i += 1
            limit = int(toks[i][1])
            i += 1

        conn = self.conn
        with _locked(conn.path) as state:
            if table not in state.tables:
                raise ProgrammingError(f'relation "{table}" does not exist')
            visible = conn._visible(state)
        rows = _where_filter(visible.get(table, []), where_toks, params)
        if order_col is not None:
            rows.sort(
                key=lambda r: (r[order_col] is None, r[order_col]),
                reverse=order_desc,
            )
        if limit is not None:
            rows = rows[:limit]

        # projection: * | aggregates | column list
        proj = self._parse_projection(proj_toks)
        if proj == "*":
            with _locked(conn.path) as state:
                names = state.tables[table].column_names
            result = [tuple(r[c] for c in names) for r in rows]
        elif proj and proj[0][0] == "agg":
            out = []
            for _, fn, col in proj:
                vals = [] if col == "*" else [
                    r[col] for r in rows if r.get(col) is not None
                ]
                if fn == "COUNT":
                    out.append(len(rows) if col == "*" else len(vals))
                elif fn == "MAX":
                    out.append(max(vals) if vals else None)
                elif fn == "MIN":
                    out.append(min(vals) if vals else None)
                elif fn == "SUM":
                    out.append(sum(vals) if vals else None)
                else:
                    raise ProgrammingError(f"unsupported aggregate {fn}")
            result = [tuple(out)]
        else:
            cols = [c for _, c in proj]
            result = [tuple(r[c] for c in cols) for r in rows]
        if distinct:
            seen, uniq = set(), []
            for r in result:
                if r not in seen:
                    seen.add(r)
                    uniq.append(r)
            result = uniq
        self._result, self._idx = result, 0

    @staticmethod
    def _parse_projection(toks):
        if len(toks) == 1 and toks[0][1] == "*":
            return "*"
        items, i = [], 0
        while i < len(toks):
            kind, tok = toks[i]
            if kind == "word" and tok.upper() in ("COUNT", "MAX", "MIN", "SUM") \
                    and i + 1 < len(toks) and toks[i + 1][1] == "(":
                fn = tok.upper()
                i += 2
                col = toks[i][1] if toks[i][1] == "*" else _unquote_ident(toks[i][1])
                i += 1
                if toks[i][1] != ")":
                    raise ProgrammingError("unsupported aggregate expression")
                i += 1
                items.append(("agg", fn, col))
            elif kind == "word" and tok.upper() == "AS":
                i += 2  # skip AS + alias
            elif kind in ("qident", "word"):
                items.append(("col", _unquote_ident(tok)))
                i += 1
            elif tok == ",":
                i += 1
            else:
                raise ProgrammingError(f"unsupported projection token {tok!r}")
        return items

    @staticmethod
    def _table_name(text: str) -> str:
        """Strip schema qualification + quoting: '"public"."users"' -> users,
        also accepts bare/aliased forms ('users', '"users"')."""
        toks = [t for t in _tokenize(text) if t[1] != "."]
        # drop schema qualifier when two identifiers present
        idents = [
            _unquote_ident(t[1]) for t in toks if t[0] in ("qident", "word")
        ]
        if len(idents) >= 2 and idents[0] in ("public",):
            return idents[1]
        return idents[0]


def quote_like(col: str) -> str:
    from .catalog import quote_identifier

    return quote_identifier(col)


def _norm_ident(s: str) -> str:
    return s.replace('"', "").strip().lower()
