"""Minimal pure-Python PostgreSQL client: DB-API 2.0 over the v3 wire
protocol (frontend/backend protocol 3.0, simple-query flavor).

Why it exists: the container ships a real PostgreSQL server but no Python
driver (no psycopg2/pg8000), and the engine's whole Postgres layer —
``introspect_catalog``, ``SnapshotCoordinator``, the
``format("pgwire")`` DataSource (``sources/pyds.py``), ``upsert_writer``
— talks DB-API through an injectable ``connect`` factory. This module
closes the last reference-parity gap the fake server
(``sources/fakepg.py``) cannot: the libpq WIRE FORMAT of a real session
(reference integration tier: ``integration-tests/src/scala/
simpleanonymizer/PostgresTestBase.scala:10-79`` runs against real
Postgres via Testcontainers). ``tests/test_pg_live.py`` boots a real
server and replays the integration suite through this client.

It is the wire client of every Postgres read and write the engine makes
(``format("pgwire")`` partition tasks, ``write_jdbc``, the copy
benchmark). Scope (deliberately small):

* startup + trust or cleartext-password auth;
* simple Query ('Q') messages only — multi-statement strings work, which
  is exactly what ``session_init_sql`` needs, and ``executemany``
  pipelines a batch as one ``;``-joined Query (one round trip per batch);
* client-side ``%s`` parameter interpolation with standard literal
  quoting ('' doubling; standard_conforming_strings assumed ON, the
  server default since PG 9.1);
* text-format results decoded by OID (int/float/numeric/bool/bytea,
  everything else — including timestamps and jsonb — surfaces as str,
  matching the ``pyds._spark_type`` contract);
* psycopg2-style transactions: ``autocommit`` False by default, an
  implicit BEGIN is sent before the first statement of a transaction
  (skipped when the statement itself starts one, so
  ``BEGIN ...; SET TRANSACTION SNAPSHOT ...`` init strings pass through
  verbatim).

Exception types subclass the fake server's (``fakepg.IntegrityError``
etc.) so test assertions are engine-agnostic: the same ``pytest.raises``
matches whichever backend answered.
"""

from __future__ import annotations

import re
import socket
import struct
from decimal import Decimal
from typing import Any, Iterator

from .fakepg import FakePGError, IntegrityError as _FakeIntegrityError
from .fakepg import ProgrammingError as _FakeProgrammingError


class Error(FakePGError):
    """Base error; carries the server's SQLSTATE when present."""

    def __init__(self, message: str, sqlstate: str | None = None):
        super().__init__(message)
        self.sqlstate = sqlstate


class OperationalError(Error):
    pass


class ProgrammingError(Error, _FakeProgrammingError):
    pass


class IntegrityError(Error, _FakeIntegrityError):
    pass


def _error_for(sqlstate: str | None, message: str) -> Error:
    if sqlstate and sqlstate.startswith("23"):  # integrity constraint class
        return IntegrityError(message, sqlstate)
    if sqlstate and sqlstate[:2] in ("42", "26", "34"):  # syntax/name class
        return ProgrammingError(message, sqlstate)
    return Error(message, sqlstate)


# -- text-format decoders by type OID ---------------------------------------

_OID_INT = {20, 21, 23, 26, 28}  # int8, int2, int4, oid, xid
_OID_FLOAT = {700, 701}
_OID_NUMERIC = 1700
_OID_BOOL = 16
_OID_BYTEA = 17


def _decode(value: bytes | None, oid: int) -> Any:
    if value is None:
        return None
    text = value.decode("utf-8")
    if oid in _OID_INT:
        return int(text)
    if oid == _OID_NUMERIC:
        return Decimal(text)
    if oid in _OID_FLOAT:
        return float(text)
    if oid == _OID_BOOL:
        return text == "t"
    if oid == _OID_BYTEA:
        return bytes.fromhex(text[2:]) if text.startswith("\\x") else value
    return text


# -- parameter interpolation -------------------------------------------------


def _quote_literal(value: Any) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, Decimal):
        return f"'{value}'"  # quoted: exact numeric text, server casts
    if isinstance(value, (bytes, bytearray)):
        return "'\\x" + bytes(value).hex() + "'"
    text = str(value).replace("'", "''")
    if "\x00" in text:
        raise ProgrammingError("NUL byte in string literal")
    return f"'{text}'"


_PLACEHOLDER = re.compile(r"%s")


def _interpolate(sql: str, params) -> str:
    """Replace ``%s`` placeholders with quoted literals. The SQL this
    engine renders never contains ``%s`` inside string literals, so a flat
    scan is sound (asserted: count must match the param tuple)."""
    if params is None:
        return sql
    params = tuple(params)
    slots = _PLACEHOLDER.findall(sql)
    if len(slots) != len(params):
        raise ProgrammingError(
            f"query expects {len(slots)} parameters, got {len(params)}"
        )
    parts = _PLACEHOLDER.split(sql)
    out = [parts[0]]
    for lit, tail in zip(map(_quote_literal, params), parts[1:]):
        out.append(lit)
        out.append(tail)
    return "".join(out)


# -- wire protocol -----------------------------------------------------------

_BEGINS_TXN = re.compile(r"^\s*(BEGIN|START\s+TRANSACTION)\b", re.IGNORECASE)


class Connection:
    """One backend session. Not thread-safe (one socket); use one
    connection per thread/partition, as every caller in this engine does."""

    def __init__(self, host: str, port: int, user: str, database: str,
                 password: str | None = None, timeout: float = 30.0):
        self.autocommit = False
        self.closed = False
        self._status = b"I"  # ReadyForQuery: Idle / Transaction / Error
        self._sock = socket.create_connection((host, port), timeout=timeout)
        try:
            self._startup(user, database, password)
        except BaseException:
            self._sock.close()
            raise

    # -- DB-API surface ----------------------------------------------------

    def cursor(self) -> "Cursor":
        if self.closed:
            raise ProgrammingError("connection is closed")
        return Cursor(self)

    def commit(self) -> None:
        if self._status in (b"T", b"E"):
            self._simple_query("COMMIT")

    def rollback(self) -> None:
        if self._status in (b"T", b"E"):
            self._simple_query("ROLLBACK")

    def close(self) -> None:
        if self.closed:
            return
        self.closed = True
        try:
            self._send(b"X", b"")  # Terminate
        except OSError:
            pass
        finally:
            self._sock.close()

    def __enter__(self) -> "Connection":
        return self

    def __exit__(self, exc_type, *_exc) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.rollback()
        self.close()

    # -- protocol ----------------------------------------------------------

    def _startup(self, user: str, database: str, password: str | None) -> None:
        body = b"".join(
            k.encode() + b"\0" + v.encode() + b"\0"
            for k, v in (("user", user), ("database", database))
        ) + b"\0"
        msg = struct.pack("!ii", len(body) + 8, 196608) + body  # 3.0
        self._sock.sendall(msg)
        while True:
            tag, payload = self._recv()
            if tag == b"R":
                (code,) = struct.unpack("!i", payload[:4])
                if code == 0:  # AuthenticationOk
                    continue
                if code == 3:  # CleartextPassword
                    if password is None:
                        raise OperationalError("server demands a password")
                    self._send(b"p", password.encode() + b"\0")
                    continue
                raise OperationalError(f"unsupported auth method {code}")
            elif tag == b"Z":
                self._status = payload[:1]
                return
            elif tag == b"E":
                raise self._parse_error(payload)
            # S (ParameterStatus), K (BackendKeyData), N (Notice): ignore

    def _send(self, tag: bytes, body: bytes) -> None:
        self._sock.sendall(tag + struct.pack("!i", len(body) + 4) + body)

    def _recv(self) -> tuple[bytes, bytes]:
        header = self._recv_exact(5)
        tag, length = header[:1], struct.unpack("!i", header[1:5])[0]
        return tag, self._recv_exact(length - 4)

    def _recv_exact(self, n: int) -> bytes:
        chunks = []
        while n:
            chunk = self._sock.recv(n)
            if not chunk:
                raise OperationalError("server closed the connection")
            chunks.append(chunk)
            n -= len(chunk)
        return b"".join(chunks)

    @staticmethod
    def _parse_error(payload: bytes) -> Error:
        fields: dict[bytes, str] = {}
        for part in payload.split(b"\0"):
            if part:
                fields[part[:1]] = part[1:].decode("utf-8", "replace")
        return _error_for(fields.get(b"C"), fields.get(b"M", "server error"))

    def _simple_query(self, sql: str) -> tuple[list, list[tuple], list[int]]:
        """Send one Query message; drain to ReadyForQuery. Returns the
        (description, rows) of the LAST result set and the rowcount of
        every statement, in order (-1 where the command reports none)."""
        if self.closed:
            raise ProgrammingError("connection is closed")
        self._send(b"Q", sql.encode("utf-8") + b"\0")
        description: list = []
        rows: list[tuple] = []
        oids: list[int] = []
        rowcounts: list[int] = []
        error: Error | None = None
        while True:
            tag, payload = self._recv()
            if tag == b"T":  # RowDescription
                description, oids = self._parse_row_description(payload)
                rows = []
            elif tag == b"D":  # DataRow
                rows.append(self._parse_data_row(payload, oids))
            elif tag == b"C":  # CommandComplete
                tail = payload.rstrip(b"\0").split()
                rowcounts.append(int(tail[-1]) if tail and tail[-1].isdigit() else -1)
            elif tag == b"E":
                error = self._parse_error(payload)
            elif tag == b"Z":
                self._status = payload[:1]
                if error is not None:
                    raise error
                return description, rows, rowcounts
            # I (EmptyQueryResponse), N (Notice), S (ParameterStatus): skip

    @staticmethod
    def _parse_row_description(payload: bytes) -> tuple[list, list[int]]:
        (n,) = struct.unpack("!h", payload[:2])
        pos, description, oids = 2, [], []
        for _ in range(n):
            end = payload.index(b"\0", pos)
            name = payload[pos:end].decode("utf-8")
            table_oid, attnum, type_oid, size, mod, fmt = struct.unpack(
                "!ihihih", payload[end + 1:end + 19]
            )
            description.append((name, type_oid, None, size, None, None, None))
            oids.append(type_oid)
            pos = end + 19
        return description, oids

    @staticmethod
    def _parse_data_row(payload: bytes, oids: list[int]) -> tuple:
        (n,) = struct.unpack("!h", payload[:2])
        pos, values = 2, []
        for i in range(n):
            (length,) = struct.unpack("!i", payload[pos:pos + 4])
            pos += 4
            if length == -1:
                raw: bytes | None = None
            else:
                raw = payload[pos:pos + length]
                pos += length
            values.append(_decode(raw, oids[i] if i < len(oids) else 25))
        return tuple(values)

    def _execute(self, sql: str, params=None) -> tuple[list, list[tuple], list[int]]:
        text = _interpolate(sql, params)
        if (not self.autocommit and self._status == b"I"
                and not _BEGINS_TXN.match(text)):
            self._simple_query("BEGIN")
        return self._simple_query(text)

    # -- COPY FROM STDIN (bulk-load fast path) -----------------------------

    def copy_in(self, table: str, columns: list[str], rows,
                schema: str = "public", chunk_rows: int = 500) -> int:
        """Bulk load via the wire protocol's COPY sub-protocol — one
        round trip per ``chunk_rows`` instead of one INSERT per batch
        statement; the server parses text-format rows directly into the
        heap (the documented ~10x bulk path). Runs inside the implicit
        transaction like every other statement. Returns rows loaded.

        Text-format encoding: tab-separated columns, ``\\N`` for NULL,
        backslash-escaped ``\\ \\t \\n \\r``; bools as t/f. Supported
        value types: str/int/float/bool/None.
        """
        from .catalog import quote_identifier, quote_qualified

        if self.closed:
            raise ProgrammingError("connection is closed")
        if not self.autocommit and self._status == b"I":
            self._simple_query("BEGIN")
        cols = ", ".join(quote_identifier(c) for c in columns)
        stmt = (f"COPY {quote_qualified(table, schema)} ({cols}) "
                f"FROM STDIN")
        self._send(b"Q", stmt.encode("utf-8") + b"\0")
        # Wait for CopyInResponse (G) or error.
        error: Error | None = None
        while True:
            tag, payload = self._recv()
            if tag == b"G":
                break
            if tag == b"E":
                error = self._parse_error(payload)
            elif tag == b"Z":
                self._status = payload[:1]
                raise error or ProgrammingError("COPY refused")
        n = 0
        buf: list[bytes] = []
        try:
            for row in rows:
                buf.append(_copy_text_row(row))
                n += 1
                if len(buf) >= chunk_rows:
                    self._send(b"d", b"".join(buf))
                    buf.clear()
            if buf:
                self._send(b"d", b"".join(buf))
            self._send(b"c", b"")  # CopyDone
        except Exception:
            # CopyFail: server aborts the COPY and reports an error we
            # drain below; the surrounding transaction is rolled back by
            # the caller's normal error path.
            self._send(b"f", b"client-side encoding failure\0")
            raise
        finally:
            while True:
                tag, payload = self._recv()
                if tag == b"E":
                    error = self._parse_error(payload)
                elif tag == b"Z":
                    self._status = payload[:1]
                    break
        if error is not None:
            raise error
        return n


def _copy_text_field(v) -> bytes:
    if v is None:
        return b"\\N"
    if isinstance(v, bool):
        return b"t" if v else b"f"
    s = str(v)
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .encode("utf-8")
    )


def _copy_text_row(row) -> bytes:
    return b"\t".join(_copy_text_field(v) for v in row) + b"\n"


class Cursor:
    def __init__(self, conn: Connection):
        self.conn = conn
        self.description: list | None = None
        self.rowcount = -1
        self._rows: list[tuple] = []
        self._idx = 0

    def _run(self, sql: str, params=None) -> list[int]:
        description, rows, rowcounts = self.conn._execute(sql, params)
        self.description = description or None
        self._rows = rows
        self._idx = 0
        return rowcounts

    def execute(self, sql: str, params=None) -> None:
        rowcounts = self._run(sql, params)
        self.rowcount = rowcounts[-1] if rowcounts else -1

    def executemany(self, sql: str, seq_of_params) -> None:
        """Run ``sql`` once per parameter tuple in one round trip: the
        interpolated statements go out ``;``-joined in one Query message,
        as pgjdbc's ``executeBatch`` pipelines them. Each statement keeps
        its own semantics (an ``INSERT … ON CONFLICT`` row sees the rows
        before it); ``rowcount`` is the sum of their counts. The server
        runs a multi-statement Query as one transaction, so in autocommit
        mode the batch is one implicit transaction: a failing statement
        undoes the whole batch."""
        text = ";\n".join(_interpolate(sql, params) for params in seq_of_params)
        if not text:
            self.rowcount = 0
            return
        self.rowcount = sum(max(n, 0) for n in self._run(text))

    def fetchone(self):
        if self._idx >= len(self._rows):
            return None
        row = self._rows[self._idx]
        self._idx += 1
        return row

    def fetchall(self) -> list[tuple]:
        rows = self._rows[self._idx:]
        self._idx = len(self._rows)
        return rows

    def close(self) -> None:
        pass

    def __iter__(self) -> Iterator[tuple]:
        return iter(self.fetchall())


def connect(host: str = "127.0.0.1", port: int = 5432,
            user: str = "postgres", database: str = "postgres",
            password: str | None = None) -> Connection:
    """DB-API module-level constructor. Picklable call path for
    executor-side use: ``functools.partial(pgwire.connect, host=..., ...)``
    — exactly the shape ``upsert_writer`` requires of its factory."""
    return Connection(host, port, user, database, password)
