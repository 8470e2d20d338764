"""SQL Gateway: multi-session SQL service + REST endpoint, Spark-first.

Reference parity: ``flink-table/flink-sql-gateway-api/.../SqlGatewayService.java``
(session/operation lifecycle, token-paginated fetch) and the REST v2/v3
endpoint under ``flink-sql-gateway/.../rest/header`` (routes ``/sessions``,
``/sessions/:sh/statements``, ``/sessions/:sh/operations/:oh/result/:token``,
``/info``, ``/api_versions`` …). Operation states and their legal
transitions mirror ``gateway/api/operation/OperationStatus.java``.

Spark-first design decisions (not a port):

- A gateway **session** wraps ``SparkSession.newSession()`` — Spark's native
  isolated-session primitive (own temp-view catalog + SQLConf overlay,
  shared SparkContext/executors) — plus the engine's
  :class:`~apache_flink_spark.environment.TableEnvironment` for Flink-SQL
  dialect statements (SET/RESET quoting, group windows, MATCH_RECOGNIZE).
- **Fetch is driver-memory-bounded**: the worker collects the first
  ``DEFAULT_MAX_ROWS + 1`` rows in one Spark job. When they fit in one
  page they are the whole result; only a result that overflows the first
  page is run again through ``DataFrame.toLocalIterator()``, so the
  driver holds one page (+ one partition buffer) regardless of result
  size — a gateway in front of a 100 TB query must page, never
  materialize. Only the last served page is cached (the token protocol's
  replay window).
- **Results are long-polled**: a fetch on an unfinished operation waits
  up to ``RESULT_WAIT_S`` for it to end before answering ``NOT_READY``,
  so a client needs no status polling. The REST endpoint speaks HTTP/1.1
  and keeps connections alive until ``IDLE_CONNECTION_S`` pass idle.
- Operations run on a thread pool (Spark is thread-safe per job group);
  cancellation uses ``SparkContext.cancelJobGroup`` via ``InheritableThread``
  semantics: each operation tags its jobs with the operation handle. A
  cancel re-issues ``cancelJobGroup`` until the worker exits, so a job
  submitted after the cancel landed is killed too.
"""

from __future__ import annotations

import itertools
import json
import re
import socket
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable, Iterator, Optional

from apache_flink_spark.session import session_state

__all__ = [
    "SessionHandle",
    "OperationHandle",
    "OperationStatus",
    "ResultKind",
    "ResultSet",
    "SqlGatewayService",
    "SqlGatewayRestEndpoint",
    "GatewayError",
    "OperationEndedError",
]

GATEWAY_VERSION = "apache_flink_spark-gateway/1.0"
API_VERSIONS = ["V2", "V3"]
DEFAULT_MAX_ROWS = 1000
# How long a result fetch on an unfinished operation waits for it to end
# before answering NOT_READY (the long poll a REST client makes).
RESULT_WAIT_S = 10.0
# Seconds a kept-alive REST connection may sit idle before it is closed.
IDLE_CONNECTION_S = 60.0


class GatewayError(RuntimeError):
    """Loud, typed failure for any gateway-protocol violation."""


class OperationEndedError(GatewayError):
    """A fetch on an operation that ended without a result (failed,
    canceled, timed out or closed); carries its status and error."""

    def __init__(self, message: str, status: "OperationStatus", error):
        super().__init__(message)
        self.status = status
        self.error = error


@dataclass(frozen=True)
class SessionHandle:
    identifier: str

    @staticmethod
    def create() -> "SessionHandle":
        return SessionHandle(str(uuid.uuid4()))


@dataclass(frozen=True)
class OperationHandle:
    identifier: str

    @staticmethod
    def create() -> "OperationHandle":
        return OperationHandle(str(uuid.uuid4()))


class OperationStatus(str, Enum):
    INITIALIZED = "INITIALIZED"
    PENDING = "PENDING"
    RUNNING = "RUNNING"
    FINISHED = "FINISHED"
    CANCELED = "CANCELED"
    CLOSED = "CLOSED"
    ERROR = "ERROR"
    TIMEOUT = "TIMEOUT"

    @property
    def is_terminal(self) -> bool:
        return self in _TERMINAL


_TERMINAL = {
    OperationStatus.FINISHED,
    OperationStatus.CANCELED,
    OperationStatus.CLOSED,
    OperationStatus.ERROR,
    OperationStatus.TIMEOUT,
}

# Legal transitions, from the reference's OperationStatus.isValidStatusTransition
_TRANSITIONS = {
    OperationStatus.INITIALIZED: {
        OperationStatus.PENDING,
        OperationStatus.CANCELED,
        OperationStatus.CLOSED,
        OperationStatus.TIMEOUT,
        OperationStatus.ERROR,
    },
    OperationStatus.PENDING: {
        OperationStatus.RUNNING,
        OperationStatus.CANCELED,
        OperationStatus.CLOSED,
        OperationStatus.TIMEOUT,
        OperationStatus.ERROR,
    },
    OperationStatus.RUNNING: {
        OperationStatus.FINISHED,
        OperationStatus.CANCELED,
        OperationStatus.CLOSED,
        OperationStatus.TIMEOUT,
        OperationStatus.ERROR,
    },
    OperationStatus.FINISHED: {OperationStatus.CLOSED},
    OperationStatus.CANCELED: {OperationStatus.CLOSED},
    OperationStatus.ERROR: {OperationStatus.CLOSED},
    OperationStatus.TIMEOUT: {OperationStatus.CLOSED},
    OperationStatus.CLOSED: set(),
}


class ResultKind(str, Enum):
    NOT_READY = "NOT_READY"
    PAYLOAD = "PAYLOAD"
    EOS = "EOS"


@dataclass
class ResultSet:
    result_type: ResultKind
    columns: list[tuple[str, str]]  # (name, Spark simpleString type)
    data: list[tuple]
    next_token: Optional[int]  # None == no further fetch (after EOS)

    def to_json_dict(self, next_uri: Optional[str]) -> dict:
        return {
            "resultType": self.result_type.value,
            "results": {
                "columns": [
                    {"name": n, "logicalType": t} for n, t in self.columns
                ],
                "data": [
                    {"kind": "INSERT", "fields": [_json_safe(v) for v in row]}
                    for row in self.data
                ],
            },
            **({"nextResultUri": next_uri} if next_uri else {}),
        }


def _json_safe(v: Any):
    import base64
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_safe(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # pyspark Row
        return {k: _json_safe(x) for k, x in v.asDict().items()}
    return v


class _Operation:
    """One submitted statement: status machine + paged result stream."""

    def __init__(self, handle: OperationHandle, timeout_ms: int):
        self.handle = handle
        self.timeout_ms = timeout_ms
        # Monotonic timings: submitted, started (a worker picked it up),
        # planned (the statement's DataFrame exists; an eager statement
        # such as DDL or INSERT has run by then), first page ready and
        # finished (first terminal status).
        self.submitted_at = time.monotonic()
        self.started_at: Optional[float] = None
        self.planned_at: Optional[float] = None
        self.first_page_at: Optional[float] = None
        self.finished_at: Optional[float] = None
        self.status = OperationStatus.INITIALIZED
        self.error: Optional[BaseException] = None
        self.columns: list[tuple[str, str]] = []
        self._row_iter: Optional[Iterator] = None
        self._next_token = 0
        self._last_page: Optional[ResultSet] = None
        self._exhausted = False
        self.lock = threading.RLock()
        self.done = threading.Event()
        self.cancel_requested = threading.Event()
        self.worker_exited = threading.Event()

    def transition(self, to: OperationStatus) -> None:
        with self.lock:
            if to not in _TRANSITIONS[self.status]:
                raise GatewayError(
                    f"illegal operation status transition "
                    f"{self.status.value} -> {to.value}"
                )
            self.status = to
            if to.is_terminal:
                if self.finished_at is None:
                    self.finished_at = time.monotonic()
                self.done.set()

    def timings(self) -> dict:
        return {
            "submitted": self.submitted_at,
            "started": self.started_at,
            "planned": self.planned_at,
            "firstPageReady": self.first_page_at,
            "finished": self.finished_at,
        }

    # -- result paging ----------------------------------------------------
    def attach_result(self, columns, row_iter) -> None:
        with self.lock:
            self.columns = columns
            self._row_iter = row_iter

    def fetch(self, token: int, max_rows: int) -> ResultSet:
        with self.lock:
            if self.status in (
                OperationStatus.CANCELED,
                OperationStatus.CLOSED,
                OperationStatus.TIMEOUT,
            ):
                raise OperationEndedError(
                    f"operation {self.handle.identifier} is "
                    f"{self.status.value}; results are gone",
                    self.status, None,
                )
            if self.status is OperationStatus.ERROR:
                raise OperationEndedError(
                    f"operation failed: {self.error}",
                    self.status, self.error,
                ) from self.error
            # Replay window: re-fetching the PREVIOUS token returns the
            # cached page (fault-tolerant HTTP clients re-GET after a lost
            # response) — the reference's FETCH_PRIOR / token - 1 contract.
            if self._last_page is not None and token == self._next_token - 1:
                return self._last_page
            if token != self._next_token:
                raise GatewayError(
                    f"invalid fetch token {token}; expected "
                    f"{self._next_token} (or {self._next_token - 1} for a "
                    f"replay of the last page)"
                )
            if self.status in (
                OperationStatus.INITIALIZED,
                OperationStatus.PENDING,
                OperationStatus.RUNNING,
            ):
                return ResultSet(
                    ResultKind.NOT_READY, self.columns, [], token
                )
            # FINISHED: stream the next page off the local iterator.
            if self._exhausted:
                page = ResultSet(ResultKind.EOS, self.columns, [], None)
                self._advance(page)
                return page
            rows = list(itertools.islice(self._row_iter, max_rows))
            if not rows and token > 0:
                # Natural end after at least one payload page.
                self._exhausted = True
                page = ResultSet(ResultKind.EOS, self.columns, [], None)
            else:
                if len(rows) < max_rows:
                    self._exhausted = True
                page = ResultSet(
                    ResultKind.PAYLOAD,
                    self.columns,
                    [tuple(r) for r in rows],
                    self._next_token + 1,
                )
            self._advance(page)
            return page

    def _advance(self, page: ResultSet) -> None:
        self._last_page = page
        self._next_token += 1


class _Session:
    def __init__(self, handle: SessionHandle, tenv, properties: dict):
        self.handle = handle
        self.tenv = tenv
        self.properties = dict(properties)
        self.operations: dict[str, _Operation] = {}
        self.last_access = time.monotonic()

    def touch(self) -> None:
        self.last_access = time.monotonic()


class SqlGatewayService:
    """In-process analog of the reference's ``SqlGatewayServiceImpl``.

    One service per process; every :meth:`open_session` call gets an
    isolated ``SparkSession.newSession()`` wrapped in the engine's
    :class:`TableEnvironment`. A session isolates its conf, its temporary
    tables and views with their DDL, options and watermarks, its
    secondary catalogs, current catalog and database, modules, functions
    and jars (Spark's per-session state plus the engine's
    :class:`~apache_flink_spark.session.SessionState`). Shared across
    sessions: the SparkContext and executors, the ``spark_catalog``
    metastore with its native tables, the files under any table path,
    and models, procedures and PTFs registered from Python. Statements
    run on a bounded thread pool; results page through the driver one
    fetch at a time.
    """

    def __init__(
        self,
        spark=None,
        sf_dir: Optional[str] = None,
        worker_threads: int = 4,
        session_idle_timeout_s: Optional[float] = None,
    ):
        if spark is None:
            from apache_flink_spark.session import get_spark

            spark = get_spark()
        self._base_spark = spark
        self._sf_dir = sf_dir
        self._sessions: dict[str, _Session] = {}
        self._pool = ThreadPoolExecutor(
            max_workers=worker_threads, thread_name_prefix="sql-gateway"
        )
        self._lock = threading.RLock()
        self._idle_timeout = session_idle_timeout_s
        self._closed = False

    # -- session lifecycle -------------------------------------------------
    def open_session(self, properties: Optional[dict] = None) -> SessionHandle:
        from apache_flink_spark.environment import TableEnvironment

        self._check_open()
        props = dict(properties or {})
        handle = SessionHandle.create()
        child = self._base_spark.newSession()
        tenv = TableEnvironment(
            spark=child, sf_dir=props.pop("graft.sf-dir", self._sf_dir)
        )
        sess = _Session(handle, tenv, props)
        for k, v in props.items():
            # session properties land on the ISOLATED session conf only
            child.conf.set(k, v)
        with self._lock:
            self._sessions[handle.identifier] = sess
        return handle

    def close_session(self, handle: SessionHandle) -> None:
        with self._lock:
            sess = self._sessions.pop(handle.identifier, None)
        if sess is None:
            raise GatewayError(f"unknown session {handle.identifier}")
        for op in list(sess.operations.values()):
            if not op.status.is_terminal:
                op.cancel_requested.set()
                _kill_jobs(sess, op)
        # the fixture DataFrames hold the session: drop them so it can go
        session_state(sess.tenv.spark).fixtures.clear()

    def heartbeat(self, handle: SessionHandle) -> None:
        self._session(handle).touch()

    def get_session_config(self, handle: SessionHandle) -> dict:
        sess = self._session(handle)
        return dict(sess.properties)

    def configure_session(
        self, handle: SessionHandle, statement: str, timeout_ms: int = 0
    ) -> None:
        """Synchronous DDL/SET/RESET/USE only — statements that return rows
        are rejected, as in the reference's ``configureSession``."""
        from apache_flink_spark.statement import classify

        sess = self._session(handle)
        if not classify(statement).configures:
            raise GatewayError(
                "configure_session only accepts SET/RESET/DDL/USE "
                f"statements, got: {statement.strip()[:60]!r}"
            )
        sess.tenv.sql(statement)

    # -- statement execution -----------------------------------------------
    def execute_statement(
        self,
        handle: SessionHandle,
        statement: str,
        execution_timeout_ms: int = 0,
    ) -> OperationHandle:
        sess = self._session(handle)
        op = _Operation(OperationHandle.create(), execution_timeout_ms)
        with self._lock:
            sess.operations[op.handle.identifier] = op
        op.transition(OperationStatus.PENDING)
        self._pool.submit(self._run_operation, sess, op, statement)
        return op.handle

    def submit_operation(
        self, handle: SessionHandle, executor: Callable[[], Any]
    ) -> OperationHandle:
        """Reference ``submitOperation``: run a caller-provided thunk that
        returns a DataFrame under the same lifecycle as a statement."""
        sess = self._session(handle)
        op = _Operation(OperationHandle.create(), 0)
        with self._lock:
            sess.operations[op.handle.identifier] = op
        op.transition(OperationStatus.PENDING)
        self._pool.submit(self._run_operation, sess, op, None, executor)
        return op.handle

    def _run_operation(self, sess, op, statement, executor=None) -> None:
        op.started_at = time.monotonic()
        try:
            if op.cancel_requested.is_set():
                op.transition(OperationStatus.CANCELED)
                return
            op.transition(OperationStatus.RUNNING)
            spark = sess.tenv.spark
            # Tag every Spark job of this operation so cancel_operation can
            # kill in-flight stages, not just mark state.
            spark.sparkContext.setJobGroup(
                op.handle.identifier, f"sql-gateway op {op.handle.identifier}",
                interruptOnCancel=True,
            )
            df = executor() if executor is not None else sess.tenv.sql(statement)
            op.planned_at = time.monotonic()
            if df is None:
                op.attach_result([("result", "string")], iter([("OK",)]))
            else:
                cols = [
                    (f.name, f.dataType.simpleString()) for f in df.schema.fields
                ]
                if op.timeout_ms and (
                    time.monotonic() - op.submitted_at
                ) * 1000 > op.timeout_ms:
                    op.transition(OperationStatus.TIMEOUT)
                    return
                # The first page is computed HERE — in the job-group-tagged
                # worker thread — so that (a) FINISHED means "first page
                # ready to fetch" (the reference's contract) and (b) the
                # heavy leading jobs are cancellable via cancelJobGroup,
                # not hidden in a later fetch caller's thread.
                op.attach_result(cols, _result_rows(df))
            op.first_page_at = time.monotonic()
            # cancel_operation may have transitioned the op concurrently —
            # take the lock and re-check so a clean cancellation never
            # records a bogus illegal-transition error (review r6 #9)
            with op.lock:
                if not op.status.is_terminal:
                    op.transition(
                        OperationStatus.CANCELED
                        if op.cancel_requested.is_set()
                        else OperationStatus.FINISHED
                    )
        except BaseException as ex:  # recorded, surfaced at fetch
            with op.lock:
                if op.cancel_requested.is_set():
                    if not op.status.is_terminal:
                        op.transition(OperationStatus.CANCELED)
                elif not op.status.is_terminal:
                    op.error = ex
                    op.transition(OperationStatus.ERROR)
        finally:
            try:
                sess.tenv.spark.sparkContext.setJobGroup("", "")
            except Exception:
                pass
            op.worker_exited.set()

    # -- operation lifecycle -------------------------------------------------
    def cancel_operation(
        self, handle: SessionHandle, op_handle: OperationHandle
    ) -> None:
        sess = self._session(handle)
        op = self._operation(sess, op_handle)
        op.cancel_requested.set()
        _kill_jobs(sess, op)
        with op.lock:
            if not op.status.is_terminal:
                op.transition(OperationStatus.CANCELED)

    def close_operation(
        self, handle: SessionHandle, op_handle: OperationHandle
    ) -> None:
        sess = self._session(handle)
        op = self._operation(sess, op_handle)
        with op.lock:
            if op.status is not OperationStatus.CLOSED:
                if not op.status.is_terminal:
                    op.cancel_requested.set()
                    _kill_jobs(sess, op)
                    op.transition(OperationStatus.CANCELED)
                op.transition(OperationStatus.CLOSED)
        with self._lock:
            sess.operations.pop(op_handle.identifier, None)

    def get_operation_info(
        self, handle: SessionHandle, op_handle: OperationHandle
    ) -> dict:
        op = self._operation(self._session(handle), op_handle)
        return {
            "status": op.status.value,
            "exception": _describe(op.error),
            "timings": op.timings(),
        }

    def get_operation_result_schema(
        self, handle: SessionHandle, op_handle: OperationHandle
    ) -> list[tuple[str, str]]:
        op = self._operation(self._session(handle), op_handle)
        if op.status is not OperationStatus.FINISHED:
            raise GatewayError(
                f"result schema only available on FINISHED operations "
                f"(status={op.status.value})"
            )
        return list(op.columns)

    def fetch_results(
        self,
        handle: SessionHandle,
        op_handle: OperationHandle,
        token: int,
        max_rows: int = DEFAULT_MAX_ROWS,
    ) -> ResultSet:
        """Fetch page ``token``, long-polled: on an unfinished operation,
        wait up to ``RESULT_WAIT_S`` (and no longer than its execution
        timeout) for it to end before answering ``NOT_READY``."""
        sess = self._session(handle)
        op = self._operation(sess, op_handle)
        wait_s = RESULT_WAIT_S
        if op.timeout_ms:
            left = op.timeout_ms / 1000 - (time.monotonic() - op.submitted_at)
            wait_s = min(wait_s, max(0.0, left))
        op.done.wait(wait_s)
        if op.timeout_ms and not op.done.is_set() and (
            time.monotonic() - op.submitted_at
        ) * 1000 > op.timeout_ms:
            op.cancel_requested.set()
            with op.lock:
                if not op.status.is_terminal:
                    op.transition(OperationStatus.TIMEOUT)
        return op.fetch(token, max_rows)

    def await_operation(
        self,
        handle: SessionHandle,
        op_handle: OperationHandle,
        timeout_s: float = 300.0,
    ) -> OperationStatus:
        """Convenience (test/CLI): block until the operation is terminal."""
        op = self._operation(self._session(handle), op_handle)
        if not op.done.wait(timeout_s):
            raise GatewayError("await_operation timed out")
        return op.status

    # -- catalog introspection ----------------------------------------------
    def get_current_catalog(self, handle: SessionHandle) -> str:
        return self._session(handle).tenv.spark.catalog.currentCatalog()

    def list_catalogs(self, handle: SessionHandle) -> set[str]:
        return {
            c.name
            for c in self._session(handle).tenv.spark.catalog.listCatalogs()
        }

    def list_databases(self, handle: SessionHandle) -> set[str]:
        return {
            d.name
            for d in self._session(handle).tenv.spark.catalog.listDatabases()
        }

    def list_tables(self, handle: SessionHandle) -> set[str]:
        return {
            t.name for t in self._session(handle).tenv.spark.catalog.listTables()
        }

    def list_system_functions(self, handle: SessionHandle) -> set[str]:
        # Spark builtins + the engine's registered Flink-name wrappers
        # (TableEnvironment ran register_all on the session).
        from apache_flink_spark.functions.registry import _SQL_FUNCTIONS

        spark = self._session(handle).tenv.spark
        builtin = {f.name for f in spark.catalog.listFunctions()}
        return builtin | set(_SQL_FUNCTIONS)

    def complete_statement(
        self, handle: SessionHandle, statement: str, position: int
    ) -> list[str]:
        """Prefix completion over SQL keywords + session tables/functions."""
        sess = self._session(handle)
        prefix_m = re.search(r"[A-Za-z_][A-Za-z0-9_]*$", statement[:position])
        prefix = (prefix_m.group(0) if prefix_m else "").upper()
        candidates = sorted(
            set(_SQL_KEYWORDS)
            | {t.upper() for t in self.list_tables(handle)}
        )
        if not prefix:
            return candidates
        return [c for c in candidates if c.startswith(prefix)]

    def refresh_materialized_table(
        self,
        handle: SessionHandle,
        identifier: str,
        is_periodic: bool = False,
        static_partitions: Optional[dict] = None,
    ) -> OperationHandle:
        """Reference ``SqlGatewayService.refreshMaterializedTable``: run a
        refresh as a tracked operation. ``is_periodic`` marks a
        scheduler-triggered refresh (same execution; recorded in the
        result row, as the reference passes it to the refresh workflow)."""
        sess = self._session(handle)
        mgr = sess.tenv.materialized_tables

        def thunk():
            n = mgr.refresh(identifier, static_partitions=static_partitions)
            return sess.tenv.spark.createDataFrame(
                [(identifier, n, bool(is_periodic))],
                "identifier string, rows_refreshed bigint, periodic boolean",
            )

        return self.submit_operation(handle, thunk)

    def get_gateway_info(self) -> dict:
        return {
            "productName": "apache_flink_spark",
            "version": GATEWAY_VERSION,
        }

    def close(self) -> None:
        with self._lock:
            self._closed = True
            handles = list(self._sessions)
        for h in handles:
            try:
                self.close_session(SessionHandle(h))
            except GatewayError:
                pass
        self._pool.shutdown(wait=False, cancel_futures=True)

    # -- internals ------------------------------------------------------------
    def _check_open(self) -> None:
        if self._closed:
            raise GatewayError("gateway service is closed")

    def _session(self, handle: SessionHandle) -> _Session:
        with self._lock:
            sess = self._sessions.get(handle.identifier)
        if sess is None:
            raise GatewayError(f"unknown session {handle.identifier}")
        if (
            self._idle_timeout is not None
            and time.monotonic() - sess.last_access > self._idle_timeout
        ):
            self.close_session(handle)
            raise GatewayError(
                f"session {handle.identifier} timed out after "
                f"{self._idle_timeout}s idle"
            )
        sess.touch()
        return sess

    @staticmethod
    def _operation(sess: _Session, op_handle: OperationHandle) -> _Operation:
        op = sess.operations.get(op_handle.identifier)
        if op is None:
            raise GatewayError(f"unknown operation {op_handle.identifier}")
        return op


def _describe(error: Optional[BaseException]) -> Optional[str]:
    """An operation's error as its type and message (a Spark exception's
    repr() drops the message)."""
    return None if error is None else f"{type(error).__name__}: {error}"


def _kill_jobs(sess: _Session, op: _Operation) -> None:
    """Cancel the Spark jobs of ``op`` (its ``cancel_requested`` already
    set), also those its worker submits after this call: a cancel can land
    before the first job starts, and ``cancelJobGroup`` kills only running
    jobs. So while the worker runs, the group is cancelled again every
    50 ms until it exits. A worker that has not started yet sees the flag
    and never submits a job."""
    sc = sess.tenv.spark.sparkContext

    def cancel() -> bool:
        try:
            sc.cancelJobGroup(op.handle.identifier)
            return True
        except Exception:
            return False

    if not cancel() or op.started_at is None:
        return

    def keep_cancelling() -> None:
        while not op.worker_exited.wait(0.05) and cancel():
            pass

    threading.Thread(
        target=keep_cancelling, daemon=True,
        name=f"sql-gateway-cancel-{op.handle.identifier}",
    ).start()


def _result_rows(df) -> Iterator:
    """The rows of ``df``, the first page already computed.

    A result that fits in one page costs one ``collect`` job and is the
    whole result. A larger one is dropped after that probe and streamed
    from one ``toLocalIterator()``, so every page comes from one execution
    and the driver holds at most one page (+ one partition buffer).
    """
    head = df.limit(DEFAULT_MAX_ROWS + 1).collect()
    if len(head) <= DEFAULT_MAX_ROWS:
        return iter(head)
    del head
    it = df.toLocalIterator()
    head = list(itertools.islice(it, DEFAULT_MAX_ROWS))
    return itertools.chain(head, it)


_SQL_KEYWORDS = [
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "ORDER", "HAVING", "JOIN",
    "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS", "ON", "UNION",
    "INTERSECT", "EXCEPT", "LIMIT", "OFFSET", "INSERT", "INTO", "OVERWRITE",
    "VALUES", "CREATE", "TABLE", "VIEW", "TEMPORARY", "DROP", "ALTER",
    "DESCRIBE", "EXPLAIN", "SHOW", "USE", "SET", "RESET", "WITH", "AS",
    "DISTINCT", "CASE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT",
    "NULL", "LIKE", "IN", "EXISTS", "BETWEEN", "CAST", "OVER", "PARTITION",
    "WINDOW", "MATCH_RECOGNIZE", "TUMBLE", "HOP", "CUMULATE", "SESSION",
    # r7 statement surface
    "CATALOG", "CATALOGS", "DATABASE", "DATABASES", "DISTRIBUTED",
    "BUCKETS", "REPLACE", "MODEL", "MODELS", "FUNCTION", "FUNCTIONS",
    "JAR", "JARS", "ANALYZE", "TRUNCATE", "RENAME", "ILIKE",
]


# ---------------------------------------------------------------------------
# REST endpoint (reference: flink-sql-gateway rest v2/v3)
# ---------------------------------------------------------------------------

_ROUTES = [
    # (method, regex, handler name)
    ("GET", re.compile(r"^/(?:v[23]/)?info$"), "_r_info"),
    ("GET", re.compile(r"^/api_versions$"), "_r_api_versions"),
    ("POST", re.compile(r"^/(?:v[23]/)?sessions$"), "_r_open_session"),
    (
        "DELETE",
        re.compile(r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)$"),
        "_r_close_session",
    ),
    (
        "POST",
        re.compile(r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/heartbeat$"),
        "_r_heartbeat",
    ),
    (
        "POST",
        re.compile(
            r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/configure-session$"
        ),
        "_r_configure",
    ),
    (
        "POST",
        re.compile(
            r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/complete-statement$"
        ),
        "_r_complete",
    ),
    (
        "POST",
        re.compile(r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/statements$"),
        "_r_execute",
    ),
    (
        "GET",
        re.compile(
            r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/operations/"
            r"(?P<oh>[0-9a-f-]+)/status$"
        ),
        "_r_op_status",
    ),
    (
        "POST",
        re.compile(
            r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/operations/"
            r"(?P<oh>[0-9a-f-]+)/cancel$"
        ),
        "_r_op_cancel",
    ),
    (
        "DELETE",
        re.compile(
            r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/operations/"
            r"(?P<oh>[0-9a-f-]+)/close$"
        ),
        "_r_op_close",
    ),
    (
        "GET",
        re.compile(
            r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/operations/"
            r"(?P<oh>[0-9a-f-]+)/result/(?P<token>\d+)$"
        ),
        "_r_fetch",
    ),
    (
        "POST",
        re.compile(
            r"^/(?:v[23]/)?sessions/(?P<sh>[0-9a-f-]+)/materialized-tables/"
            r"(?P<mt>[^/]+)/refresh$"
        ),
        "_r_mt_refresh",
    ),
]


class SqlGatewayRestEndpoint:
    """stdlib ``http.server`` REST facade over :class:`SqlGatewayService`.

    Routes mirror the reference's v2/v3 endpoint; bodies are JSON. Start
    with :meth:`start` (binds an ephemeral port on 127.0.0.1 by default),
    stop with :meth:`stop`. Thread-per-connection via
    ``ThreadingHTTPServer``; connections are HTTP/1.1 kept-alive, closed
    after ``IDLE_CONNECTION_S`` idle — fine for a driver-side gateway;
    horizontal scale comes from Spark, not from the HTTP layer.
    """

    def __init__(self, service: SqlGatewayService, host="127.0.0.1", port=0):
        self.service = service
        self._host = host
        self._port = port
        self._httpd = None
        self._thread = None
        self._conns: set = set()  # open client sockets, shut at stop()
        self._conns_lock = threading.Lock()

    @property
    def url(self) -> str:
        if self._httpd is None:
            raise GatewayError("endpoint not started")
        h, p = self._httpd.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> "SqlGatewayRestEndpoint":
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # Headers and body go out in separate sends; with Nagle on,
            # the body would wait for the client's delayed ACK.
            disable_nagle_algorithm = True
            timeout = IDLE_CONNECTION_S

            def setup(self):
                super().setup()
                with endpoint._conns_lock:
                    endpoint._conns.add(self.connection)

            def finish(self):
                with endpoint._conns_lock:
                    endpoint._conns.discard(self.connection)
                super().finish()

            def log_message(self, fmt, *args):  # quiet
                pass

            def _dispatch(self, method):
                # Read the whole body first: on a kept-alive connection,
                # unread bytes would be parsed as the next request.
                try:
                    clen = int(self.headers.get("Content-Length") or 0)
                except ValueError:
                    self.close_connection = True
                    return self._send(400, {
                        "errors": ["malformed Content-Length"]
                    })
                raw = self.rfile.read(clen) if clen > 0 else b""
                path = self.path.split("?")[0]
                for m, rx, name in _ROUTES:
                    match = rx.match(path) if m == method else None
                    if match:
                        break
                else:
                    return self._send(
                        404, {"errors": [f"no route {method} {self.path}"]}
                    )
                try:
                    body = json.loads(raw) if raw else {}
                except json.JSONDecodeError:
                    return self._send(400, {"errors": ["malformed JSON body"]})
                try:
                    code, payload = getattr(endpoint, name)(
                        match.groupdict(), body
                    )
                except GatewayError as ex:
                    code = 404 if "unknown" in str(ex) else 400
                    payload = {"errors": [str(ex)]}
                    if isinstance(ex, OperationEndedError):
                        payload["status"] = ex.status.value
                        payload["exception"] = _describe(ex.error)
                except Exception as ex:  # loud 500, never silent
                    code, payload = 500, {"errors": [repr(ex)]}
                self._send(code, payload)

            def _send(self, code, payload):
                data = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                self._dispatch("GET")

            def do_POST(self):
                self._dispatch("POST")

            def do_DELETE(self):
                self._dispatch("DELETE")

        self._httpd = ThreadingHTTPServer((self._host, self._port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="sql-gateway-rest",
            daemon=True,
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
            # End kept-alive connections: shutting the read side lets a
            # request in flight still send its response, then the handler
            # reads EOF and its thread exits.
            with self._conns_lock:
                conns = list(self._conns)
            for conn in conns:
                try:
                    conn.shutdown(socket.SHUT_RD)
                except OSError:
                    pass

    # -- route handlers: (code, json) ---------------------------------------
    def _r_info(self, params, body):
        return 200, self.service.get_gateway_info()

    def _r_api_versions(self, params, body):
        return 200, {"versions": API_VERSIONS}

    def _r_open_session(self, params, body):
        h = self.service.open_session(body.get("properties") or {})
        return 200, {"sessionHandle": h.identifier}

    def _r_close_session(self, params, body):
        self.service.close_session(SessionHandle(params["sh"]))
        return 200, {"status": "CLOSED"}

    def _r_heartbeat(self, params, body):
        self.service.heartbeat(SessionHandle(params["sh"]))
        return 200, {}

    def _r_configure(self, params, body):
        self.service.configure_session(
            SessionHandle(params["sh"]), body["statement"]
        )
        return 200, {}

    def _r_complete(self, params, body):
        cands = self.service.complete_statement(
            SessionHandle(params["sh"]),
            body["statement"],
            int(body.get("position", len(body["statement"]))),
        )
        return 200, {"candidates": cands}

    def _r_execute(self, params, body):
        oh = self.service.execute_statement(
            SessionHandle(params["sh"]),
            body["statement"],
            int(body.get("executionTimeout", 0)),
        )
        return 200, {"operationHandle": oh.identifier}

    def _r_op_status(self, params, body):
        info = self.service.get_operation_info(
            SessionHandle(params["sh"]), OperationHandle(params["oh"])
        )
        return 200, info

    def _r_op_cancel(self, params, body):
        self.service.cancel_operation(
            SessionHandle(params["sh"]), OperationHandle(params["oh"])
        )
        return 200, {"status": "CANCELED"}

    def _r_op_close(self, params, body):
        self.service.close_operation(
            SessionHandle(params["sh"]), OperationHandle(params["oh"])
        )
        return 200, {"status": "CLOSED"}

    def _r_mt_refresh(self, params, body):
        import urllib.parse

        oh = self.service.refresh_materialized_table(
            SessionHandle(params["sh"]),
            urllib.parse.unquote(params["mt"]),
            is_periodic=bool(body.get("periodic", False)),
            static_partitions=body.get("staticPartitions"),
        )
        return 200, {"operationHandle": oh.identifier}

    def _r_fetch(self, params, body):
        sh, oh = params["sh"], params["oh"]
        rs = self.service.fetch_results(
            SessionHandle(sh), OperationHandle(oh), int(params["token"])
        )
        next_uri = (
            f"/v2/sessions/{sh}/operations/{oh}/result/{rs.next_token}"
            if rs.next_token is not None
            else None
        )
        return 200, rs.to_json_dict(next_uri)
