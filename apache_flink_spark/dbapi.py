"""PEP 249 (DB-API 2.0) driver over the SQL gateway — the reference's
JDBC driver analog.

Reference parity: ``flink-table/flink-sql-jdbc-driver/`` (``FlinkDriver`` /
``FlinkConnection`` / ``FlinkStatement`` / ``FlinkResultSet``) is a thin
JDBC shim whose only transport is the SQL gateway's REST endpoint: open a
gateway session per connection, submit each statement as a gateway
operation, walk the token-paginated result stream. This module is the same
wire consumer shaped to Python's DB-API instead of JDBC:

- ``connect(url)`` speaks the REST protocol of
  :class:`~apache_flink_spark.sql_gateway.SqlGatewayRestEndpoint` (a pure
  HTTP client — usable against any live endpoint, same as
  ``jdbc:flink://host:port``). Each connection keeps one HTTP/1.1
  connection alive. Results are long-polled, not status-polled: after the
  submit, the first result fetch waits at the gateway until the statement
  ends, so a short statement costs a submit, two page fetches and the
  close of its drained operation;
- ``connect(service=svc)`` binds an in-process
  :class:`~apache_flink_spark.sql_gateway.SqlGatewayService` (the embedded
  mode the SQL client also offers) — identical cursor semantics without a
  socket, which is what tests and notebooks want.

DB-API mapping decisions:

- ``paramstyle = "qmark"``: ``?`` placeholders are substituted client-side
  with SQL literals (quote-doubled strings, ``TIMESTAMP '...'`` /
  ``DATE '...'`` typed literals, ``X'..'`` binary) — the JDBC driver's
  PreparedStatement does the same client-side substitution because the
  gateway protocol has no server-side prepare.
- ``Connection.commit()`` is a no-op and ``rollback()`` raises
  :class:`NotSupportedError` — exactly the JDBC driver's autocommit-only
  contract (``FlinkConnection.rollback`` throws ``SQLFeatureNotSupported``).
- A cursor closes its gateway operation once the result is drained, or
  at the next ``execute`` or ``close``, so a long-lived connection holds
  at most one open operation per cursor.
- Result values arriving over REST are JSON-safe (decimals/timestamps as
  strings, binary as base64 — see ``sql_gateway._json_safe``); the cursor
  re-types them from the declared column ``logicalType`` so both transports
  yield identical Python values.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import http.client
import json
import re
import select
import urllib.parse
from typing import Any, Iterator, Optional, Sequence

from apache_flink_spark.statement import in_literal, literal_spans

__all__ = [
    "apilevel", "threadsafety", "paramstyle", "connect",
    "Connection", "Cursor",
    "Warning", "Error", "InterfaceError", "DatabaseError", "DataError",
    "OperationalError", "IntegrityError", "InternalError",
    "ProgrammingError", "NotSupportedError",
    "Date", "Time", "Timestamp", "DateFromTicks", "TimeFromTicks",
    "TimestampFromTicks", "Binary",
    "STRING", "BINARY", "NUMBER", "DATETIME", "ROWID",
]

apilevel = "2.0"
# One connection per thread is safe; connections/cursors are not shared:
# a gateway session serializes its operations.
threadsafety = 1
paramstyle = "qmark"


# -- PEP 249 exception hierarchy ---------------------------------------------

class Warning(Exception):  # noqa: A001 — name fixed by PEP 249
    pass


class Error(Exception):
    pass


class InterfaceError(Error):
    pass


class DatabaseError(Error):
    pass


class DataError(DatabaseError):
    pass


class OperationalError(DatabaseError):
    pass


class IntegrityError(DatabaseError):
    pass


class InternalError(DatabaseError):
    pass


class ProgrammingError(DatabaseError):
    pass


class NotSupportedError(DatabaseError):
    pass


# -- PEP 249 type constructors / objects -------------------------------------

Date = datetime.date
Time = datetime.time
Timestamp = datetime.datetime
Binary = bytes


def DateFromTicks(ticks: float) -> datetime.date:
    return datetime.date.fromtimestamp(ticks)


def TimeFromTicks(ticks: float) -> datetime.time:
    return datetime.datetime.fromtimestamp(ticks).time()


def TimestampFromTicks(ticks: float) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(ticks)


class _TypeObject:
    def __init__(self, *names: str):
        self.names = names

    def __eq__(self, other) -> bool:  # type: ignore[override]
        return isinstance(other, str) and any(
            other == n or other.startswith(n + "(") for n in self.names
        )

    def __hash__(self) -> int:
        return hash(self.names)


STRING = _TypeObject("string", "varchar", "char")
BINARY = _TypeObject("binary")
NUMBER = _TypeObject(
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal"
)
DATETIME = _TypeObject("timestamp", "timestamp_ntz", "date", "time")
ROWID = _TypeObject()  # no rowid concept


# -- literal rendering (qmark substitution) ----------------------------------

def _render_literal(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, datetime.time):
        return f"TIME '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ProgrammingError(
        f"unsupported parameter type {type(v).__name__}: {v!r}"
    )


def _substitute(operation: str, parameters: Sequence[Any]) -> str:
    """Replace ``?`` outside string literals with rendered parameters."""
    params = list(parameters)
    spans = literal_spans(operation)
    holes = [
        m.start() for m in re.finditer(r"\?", operation)
        if not in_literal(spans, m.start())
    ]
    if len(holes) > len(params):
        raise ProgrammingError(
            f"statement has more placeholders than the "
            f"{len(params)} parameters supplied"
        )
    if len(holes) < len(params):
        raise ProgrammingError(
            f"{len(params)} parameters supplied but only {len(holes)} "
            "placeholders in statement"
        )
    out, pos = [], 0
    for i, value in zip(holes, params):
        out += [operation[pos:i], _render_literal(value)]
        pos = i + 1
    out.append(operation[pos:])
    return "".join(out)


# -- result-value re-typing ---------------------------------------------------

_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")


def _converter(logical_type: str):
    t = logical_type.strip().lower()
    if t.startswith("decimal"):
        return lambda v: decimal.Decimal(v) if isinstance(v, str) else v
    if t.startswith("timestamp"):
        return (
            lambda v: datetime.datetime.fromisoformat(v)
            if isinstance(v, str)
            else v
        )
    if t == "date":
        return (
            lambda v: datetime.date.fromisoformat(v)
            if isinstance(v, str)
            else v
        )
    if t == "binary":
        return (
            lambda v: base64.b64decode(v) if isinstance(v, str) else bytes(v)
        )
    return None


def _description_entry(name: str, logical_type: str):
    m = _DECIMAL_RE.match(logical_type.strip().lower())
    precision = int(m.group(1)) if m else None
    scale = int(m.group(2)) if m else None
    return (name, logical_type, None, None, precision, scale, None)


# -- transports ---------------------------------------------------------------

class _LocalTransport:
    """Embedded mode: an in-process SqlGatewayService."""

    def __init__(self, service, session_properties: Optional[dict]):
        from apache_flink_spark.sql_gateway import ResultKind

        self._ResultKind = ResultKind
        self.service = service
        self.session = service.open_session(session_properties or {})

    def run(self, statement: str, fetch_size: int):
        """Run ``statement``; returns (operation, columns, rows)."""
        from apache_flink_spark.sql_gateway import (
            GatewayError,
            OperationStatus,
        )

        svc, sess = self.service, self.session
        try:
            oh = svc.execute_statement(sess, statement)
            status = svc.await_operation(sess, oh)
            if status is not OperationStatus.FINISHED:
                info = svc.get_operation_info(sess, oh)
                svc.close_operation(sess, oh)
                raise ProgrammingError(
                    f"statement {status.value}: {info.get('exception')}"
                )
            columns = svc.get_operation_result_schema(sess, oh)
        except GatewayError as ex:
            raise OperationalError(str(ex)) from ex

        kind = self._ResultKind

        def rows() -> Iterator[tuple]:
            token = 0
            while token is not None:
                rs = svc.fetch_results(sess, oh, token, max_rows=fetch_size)
                for row in rs.data:
                    yield tuple(row)
                if rs.result_type is kind.EOS:
                    return
                token = rs.next_token

        return oh, columns, rows()

    def close_operation(self, oh) -> None:
        from apache_flink_spark.sql_gateway import GatewayError

        try:
            self.service.close_operation(self.session, oh)
        except GatewayError as ex:
            raise OperationalError(str(ex)) from ex

    def close(self) -> None:
        from apache_flink_spark.sql_gateway import GatewayError

        try:
            self.service.close_session(self.session)
        except GatewayError:
            pass


def _dropped(conn: http.client.HTTPConnection) -> bool:
    """True when the peer has closed an idle kept-alive connection: its
    socket is readable (EOF) before any request was sent on it."""
    return conn.sock is not None and bool(
        select.select([conn.sock], [], [], 0)[0]
    )


class _RestTransport:
    """Wire mode: pure HTTP consumer of the gateway REST endpoint — the
    shape the reference JDBC driver has (no in-process object sharing).

    Every request goes through :meth:`_http` on one kept-alive HTTP/1.1
    connection. A GET or DELETE that fails on a broken connection is sent
    once more on a fresh one (the gateway's replay window makes a repeated
    page fetch safe); a POST never is, because a re-sent ``INSERT`` would
    run twice.
    """

    def __init__(self, url: str, session_properties: Optional[dict]):
        parts = urllib.parse.urlsplit(url)
        conn_cls = (
            http.client.HTTPSConnection
            if parts.scheme == "https"
            else http.client.HTTPConnection
        )
        self._conn = conn_cls(parts.hostname, parts.port)
        self._base = parts.path.rstrip("/")
        self.session = self._http(
            "POST", "/v2/sessions", {"properties": session_properties or {}}
        )["sessionHandle"]

    def _http(self, method: str, path: str, body=None):
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        attempts = 1 if method == "POST" else 2
        for attempt in range(attempts):
            if _dropped(self._conn):
                self._conn.close()
            try:
                self._conn.request(method, self._base + path, data, headers)
                resp = self._conn.getresponse()
                raw = resp.read()
                break
            except (http.client.HTTPException, OSError) as ex:
                self._conn.close()
                if attempt + 1 == attempts:
                    raise OperationalError(
                        f"gateway unreachable on {method} {path}: {ex!r}"
                    ) from ex
        if resp.status < 400:
            return json.loads(raw)
        try:
            detail = json.loads(raw)
        except ValueError:
            detail = {}
        if detail.get("status"):
            # the operation ended without a result: failed, canceled,
            # timed out or closed
            raise ProgrammingError(
                f"statement {detail['status']}: {detail.get('exception')}"
            )
        raise OperationalError(
            f"gateway HTTP {resp.status} on {method} {path}: "
            f"{detail.get('errors')}"
        )

    def run(self, statement: str, fetch_size: int):
        """Run ``statement``; returns (operation, columns, rows)."""
        oh = self._http(
            "POST",
            f"/v2/sessions/{self.session}/statements",
            {"statement": statement},
        )["operationHandle"]
        first_uri = f"/v2/sessions/{self.session}/operations/{oh}/result/0"
        try:
            # Long poll: the gateway holds the fetch until the statement
            # ends, or answers NOT_READY after its wait bound.
            first = self._http("GET", first_uri)
            while first["resultType"] == "NOT_READY":
                first = self._http("GET", first_uri)
        except ProgrammingError:
            self.close_operation(oh)
            raise
        columns = [
            (c["name"], c["logicalType"])
            for c in first["results"]["columns"]
        ]

        def rows() -> Iterator[tuple]:
            page = first
            while True:
                for d in page["results"]["data"]:
                    yield tuple(d["fields"])
                if page["resultType"] == "EOS":
                    return
                nxt = page.get("nextResultUri")
                if not nxt:
                    return
                page = self._http("GET", nxt)

        return oh, columns, rows()

    def close_operation(self, oh) -> None:
        self._http(
            "DELETE", f"/v2/sessions/{self.session}/operations/{oh}/close"
        )

    def close(self) -> None:
        try:
            self._http("DELETE", f"/v2/sessions/{self.session}")
        except Error:
            pass
        finally:
            self._conn.close()


# -- connection / cursor ------------------------------------------------------

class Cursor:
    arraysize = 100

    def __init__(self, connection: "Connection"):
        self._conn = connection
        self._closed = False
        self.description: Optional[list[tuple]] = None
        self.rowcount = -1
        self._rows: Optional[Iterator[tuple]] = None
        self._converters: list = []
        self._op = None  # the gateway operation behind self._rows

    # -- lifecycle
    def close(self) -> None:
        try:
            if not self._closed and not self._conn._closed:
                self._close_operation()
        finally:
            self._closed = True
            self._rows = None

    def _close_operation(self) -> None:
        op, self._op = self._op, None
        if op is not None:
            self._conn._transport.close_operation(op)

    def _check(self) -> None:
        if self._closed:
            raise InterfaceError("cursor is closed")
        self._conn._check()

    # -- execution
    def execute(
        self, operation: str, parameters: Optional[Sequence[Any]] = None
    ) -> "Cursor":
        self._check()
        if parameters:
            operation = _substitute(operation, parameters)
        self._close_operation()
        self._rows = None
        self._op, columns, rows = self._conn._transport.run(
            operation, max(1, int(self.arraysize))
        )
        self.description = [
            _description_entry(n, t) for n, t in columns
        ]
        self._converters = [_converter(t) for _, t in columns]
        self._rows = rows
        self.rowcount = -1
        return self

    def executemany(
        self, operation: str, seq_of_parameters: Sequence[Sequence[Any]]
    ) -> "Cursor":
        for parameters in seq_of_parameters:
            self.execute(operation, parameters)
        return self

    # -- fetch
    def _convert(self, row: tuple) -> tuple:
        if not any(c is not None for c in self._converters):
            return row
        return tuple(
            c(v) if (c is not None and v is not None) else v
            for c, v in zip(self._converters, row)
        )

    def fetchone(self) -> Optional[tuple]:
        self._check()
        if self._rows is None:
            raise ProgrammingError("no result set: call execute() first")
        try:
            return self._convert(next(self._rows))
        except StopIteration:
            self._close_operation()
            return None

    def fetchmany(self, size: Optional[int] = None) -> list[tuple]:
        self._check()
        if self._rows is None:
            raise ProgrammingError("no result set: call execute() first")
        n = self.arraysize if size is None else size
        out = []
        for _ in range(n):
            row = self.fetchone()
            if row is None:
                break
            out.append(row)
        return out

    def fetchall(self) -> list[tuple]:
        self._check()
        if self._rows is None:
            raise ProgrammingError("no result set: call execute() first")
        rows = [self._convert(r) for r in self._rows]
        self._close_operation()
        return rows

    def __iter__(self) -> Iterator[tuple]:
        while True:
            row = self.fetchone()
            if row is None:
                return
            yield row

    # -- PEP 249 no-ops
    def setinputsizes(self, sizes) -> None:
        pass

    def setoutputsize(self, size, column=None) -> None:
        pass

    def __enter__(self) -> "Cursor":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class Connection:
    def __init__(self, transport):
        self._transport = transport
        self._closed = False

    def _check(self) -> None:
        if self._closed:
            raise InterfaceError("connection is closed")

    def cursor(self) -> Cursor:
        self._check()
        return Cursor(self)

    def commit(self) -> None:
        # Autocommit-only, like FlinkConnection (every statement is its
        # own gateway operation); commit is a legal no-op.
        self._check()

    def rollback(self) -> None:
        self._check()
        raise NotSupportedError(
            "rollback is not supported (autocommit-only, matching the "
            "reference JDBC driver)"
        )

    def close(self) -> None:
        if not self._closed:
            self._transport.close()
            self._closed = True

    def __enter__(self) -> "Connection":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def connect(
    url: Optional[str] = None,
    *,
    service=None,
    session_properties: Optional[dict] = None,
) -> Connection:
    """Open a DB-API connection.

    ``url``: a gateway REST endpoint base URL (``http://host:port``) — the
    wire mode, reference ``jdbc:flink://host:port`` analog. ``service``: an
    in-process :class:`SqlGatewayService` — embedded mode. Exactly one must
    be given.
    """
    if (url is None) == (service is None):
        raise InterfaceError(
            "connect() needs exactly one of url= (REST) or service= "
            "(embedded)"
        )
    if url is not None:
        return Connection(_RestTransport(url, session_properties))
    return Connection(_LocalTransport(service, session_properties))
