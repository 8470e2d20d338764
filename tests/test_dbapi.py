"""DB-API 2.0 driver tests — reference ``flink-sql-jdbc-driver`` parity
(FlinkJdbcDriverTestCase model: connect, statement execute, typed result
walk, autocommit-only transaction surface), over both transports:
embedded (in-process service) and REST (pure wire consumer).
Oracle: direct spark.sql on the same tables.
"""

from __future__ import annotations

import datetime
import decimal

import pytest

from apache_flink_spark import dbapi
from apache_flink_spark.sql_gateway import (
    SqlGatewayRestEndpoint,
    SqlGatewayService,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def service(spark):
    from apache_flink_spark.catalog import load_tables

    load_tables(spark, SF)  # the tests' spark.sql oracle needs the views too
    svc = SqlGatewayService(spark=spark, sf_dir=SF)
    yield svc
    svc.close()


@pytest.fixture(scope="module")
def endpoint(service):
    ep = SqlGatewayRestEndpoint(service).start()
    yield ep
    ep.stop()


@pytest.fixture()
def conn(service):
    c = dbapi.connect(service=service)
    yield c
    c.close()


def test_module_globals():
    assert dbapi.apilevel == "2.0"
    assert dbapi.threadsafety == 1
    assert dbapi.paramstyle == "qmark"
    # exception hierarchy per PEP 249
    assert issubclass(dbapi.InterfaceError, dbapi.Error)
    assert issubclass(dbapi.ProgrammingError, dbapi.DatabaseError)
    assert issubclass(dbapi.NotSupportedError, dbapi.DatabaseError)


def test_embedded_select_matches_spark(conn, spark):
    sql = (
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    cur = conn.cursor()
    cur.execute(sql)
    got = cur.fetchall()
    expect = [tuple(r) for r in spark.sql(sql).collect()]
    assert got == expect
    assert [d[0] for d in cur.description] == ["l_returnflag", "n"]
    assert cur.description[1][1] == "bigint"


def test_qmark_parameters(conn, spark):
    cur = conn.cursor()
    cur.execute(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority = ? "
        "AND o_totalprice > ?",
        ["1-URGENT", 1000.0],
    )
    (got,) = cur.fetchone()
    (expect,) = spark.sql(
        "SELECT COUNT(*) FROM orders WHERE o_orderpriority = '1-URGENT' "
        "AND o_totalprice > 1000.0"
    ).first()
    assert got == expect
    assert cur.fetchone() is None


def test_qmark_escaping_and_placeholder_in_literal(conn):
    cur = conn.cursor()
    # the ? inside the string literal is NOT a placeholder; the quoted
    # parameter value round-trips through doubled-quote escaping
    cur.execute(
        "SELECT 'lit?eral' AS a, ? AS b, ? AS c, ? AS d",
        ["O'Brien", None, True],
    )
    assert cur.fetchall() == [("lit?eral", "O'Brien", None, True)]


def test_qmark_count_mismatch(conn):
    cur = conn.cursor()
    with pytest.raises(dbapi.ProgrammingError, match="placeholders"):
        cur.execute("SELECT ? AS a, ? AS b", [1])
    with pytest.raises(dbapi.ProgrammingError, match="placeholders"):
        cur.execute("SELECT ? AS a", [1, 2])


def test_fetchmany_and_iteration(conn):
    cur = conn.cursor()
    cur.arraysize = 3
    cur.execute(
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10"
    )
    first = cur.fetchmany()
    assert len(first) == 3
    rest = list(cur)
    assert len(rest) == 7
    keys = [k for (k,) in first + rest]
    assert keys == sorted(keys)


def test_typed_literals_and_retyping_over_rest(endpoint, spark):
    with dbapi.connect(url=endpoint.url) as conn:
        cur = conn.cursor()
        cur.execute(
            "SELECT CAST('123.45' AS DECIMAL(10,2)) AS d, "
            "TIMESTAMP '2024-01-01 10:30:00' AS ts, "
            "DATE '2024-01-02' AS dt, "
            "CAST('ab' AS BINARY) AS bin, ? AS p_ts, ? AS p_d",
            [datetime.datetime(2024, 3, 4, 5, 6, 7),
             datetime.date(2024, 5, 6)],
        )
        row = cur.fetchone()
        assert row[0] == decimal.Decimal("123.45")
        assert row[1] == datetime.datetime(2024, 1, 1, 10, 30)
        assert row[2] == datetime.date(2024, 1, 2)
        assert row[3] == b"ab"
        assert row[4] == datetime.datetime(2024, 3, 4, 5, 6, 7)
        assert row[5] == datetime.date(2024, 5, 6)
        # description carries decimal precision/scale
        d = cur.description[0]
        assert (d[4], d[5]) == (10, 2)
        assert cur.description[0][1] == dbapi.NUMBER
        assert cur.description[1][1] == dbapi.DATETIME
        assert cur.description[3][1] == dbapi.BINARY


def test_rest_select_matches_embedded(endpoint, service, spark):
    sql = (
        "SELECT n_name, n_regionkey FROM nation ORDER BY n_name LIMIT 5"
    )
    with dbapi.connect(url=endpoint.url) as rc, dbapi.connect(
        service=service
    ) as lc:
        got_rest = rc.cursor().execute(sql).fetchall()
        got_local = lc.cursor().execute(sql).fetchall()
    assert got_rest == got_local
    assert got_local == [tuple(r) for r in spark.sql(sql).collect()]


def test_transactions_autocommit_only(conn):
    conn.commit()  # legal no-op
    with pytest.raises(dbapi.NotSupportedError):
        conn.rollback()


def test_bad_sql_raises_programming_error(conn):
    cur = conn.cursor()
    with pytest.raises(dbapi.DatabaseError):
        cur.execute("SELECT FROM WHERE")


def test_closed_handles_raise_interface_error(service):
    conn = dbapi.connect(service=service)
    cur = conn.cursor()
    cur.close()
    with pytest.raises(dbapi.InterfaceError):
        cur.execute("SELECT 1")
    conn.close()
    with pytest.raises(dbapi.InterfaceError):
        conn.cursor()
    conn.close()  # idempotent


def test_fetch_before_execute_raises(conn):
    cur = conn.cursor()
    with pytest.raises(dbapi.ProgrammingError, match="execute"):
        cur.fetchall()


def test_connect_arg_validation(service):
    with pytest.raises(dbapi.InterfaceError):
        dbapi.connect()
    with pytest.raises(dbapi.InterfaceError):
        dbapi.connect(url="http://x", service=service)


def test_executemany_runs_each(conn):
    cur = conn.cursor()
    cur.executemany("SELECT ? AS v", [[1], [2]])
    # last execution's result is current (PEP 249 leaves this open; we
    # document last-wins)
    assert cur.fetchall() == [(2,)]


def test_ddl_through_cursor(conn):
    cur = conn.cursor()
    cur.execute(
        "CREATE OR REPLACE TEMPORARY VIEW dbapi_v AS SELECT 42 AS x"
    )
    cur.execute("SELECT x FROM dbapi_v")
    assert cur.fetchall() == [(42,)]


# ---------------------------------------------------------------------------
# REST fast path: one job for a small first page, long-polled results,
# kept-alive connections, drained operations closed
# ---------------------------------------------------------------------------


def _count_http(monkeypatch):
    """Record (method, path, resultType, rows) of every REST request."""
    calls = []
    http = dbapi._RestTransport._http

    def counted(self, method, path, body=None):
        out = http(self, method, path, body)
        rows = len(out["results"]["data"]) if "results" in out else None
        calls.append((method, path, out.get("resultType"), rows))
        return out

    monkeypatch.setattr(dbapi._RestTransport, "_http", counted)
    return calls


@pytest.mark.parametrize("n", [999, 1000, 1001])
def test_rest_paging_at_first_page_edge(endpoint, spark, monkeypatch, n):
    DataFrame = type(spark.range(1))
    streamed = []
    to_local = DataFrame.toLocalIterator

    def spy(self, *a, **kw):
        streamed.append(1)
        return to_local(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "toLocalIterator", spy)
    sql = f"SELECT id, id * 3 AS x FROM range({n}) ORDER BY id"
    with dbapi.connect(url=endpoint.url) as conn:
        calls = _count_http(monkeypatch)
        got = conn.cursor().execute(sql).fetchall()
    assert got == [tuple(r) for r in spark.sql(sql).collect()]
    pages = [(c[2], c[3]) for c in calls if "/result/" in c[1]]
    # full pages of DEFAULT_MAX_ROWS, the rest, then EOS
    want = [("PAYLOAD", min(1000, n - k)) for k in range(0, n, 1000)]
    assert pages == want + [("EOS", 0)]
    assert not any(c[1].endswith("/status") for c in calls)
    # only a result past the first page is streamed through the iterator
    assert len(streamed) == (1 if n > 1000 else 0)


def test_rest_statement_makes_no_status_request(endpoint, monkeypatch):
    with dbapi.connect(url=endpoint.url) as conn:
        calls = _count_http(monkeypatch)
        cur = conn.cursor()
        assert cur.execute("SELECT 1 AS a").fetchall() == [(1,)]
    assert [c[0] for c in calls[:4]] == ["POST", "GET", "GET", "DELETE"]
    assert calls[1][1].endswith("/result/0") and calls[3][1].endswith("/close")
    assert not any(c[1].endswith("/status") for c in calls)


def test_rest_long_poll_answers_not_ready_and_client_waits(
    endpoint, monkeypatch
):
    from apache_flink_spark import sql_gateway

    monkeypatch.setattr(sql_gateway, "RESULT_WAIT_S", 0.05)
    with dbapi.connect(url=endpoint.url) as conn:
        calls = _count_http(monkeypatch)
        cur = conn.cursor()
        cur.execute(
            "SELECT java_method('java.lang.Thread', 'sleep', 1500L) AS s, "
            "7 AS v"
        )
        assert [r[1] for r in cur.fetchall()] == [7]
    first = [c[2] for c in calls if c[1].endswith("/result/0")]
    assert first[0] == "NOT_READY" and first[-1] == "PAYLOAD"
    assert not any(c[1].endswith("/status") for c in calls)


def test_rest_bad_statement_raises_programming_error(endpoint, service):
    with dbapi.connect(url=endpoint.url) as conn:
        cur = conn.cursor()
        with pytest.raises(dbapi.ProgrammingError) as ei:
            cur.execute("SELECT * FROM no_such_table_xyz")
        msg = str(ei.value)
        assert "statement ERROR" in msg and "no_such_table_xyz" in msg
        # the failed operation is closed, not left in the session
        sess = service._sessions[conn._transport.session]
        assert not sess.operations


def test_rest_drained_operations_are_closed(endpoint, service):
    with dbapi.connect(url=endpoint.url) as conn:
        cur = conn.cursor()
        sess = service._sessions[conn._transport.session]
        for i in range(50):
            cur.execute("SELECT ? AS i", [i])
            if i % 2 == 0:  # drained: closed at once
                assert cur.fetchall() == [(i,)]
                assert not sess.operations
            # undrained: closed by the next execute
            assert len(sess.operations) <= 1
        assert len(sess.operations) == 1
        cur.close()
        assert not sess.operations


def test_cursor_closes_when_server_close_fails(endpoint, monkeypatch):
    with dbapi.connect(url=endpoint.url) as conn:
        cur = conn.cursor()
        cur.execute("SELECT 1 AS a")  # not drained: its operation is open

        def gone(oh):
            raise dbapi.OperationalError("gateway gone")

        monkeypatch.setattr(conn._transport, "close_operation", gone)
        with pytest.raises(dbapi.OperationalError, match="gateway gone"):
            cur.close()
        with pytest.raises(dbapi.InterfaceError):
            cur.fetchone()
        cur.close()  # already closed: no second server call


def test_rest_concurrent_sessions_on_kept_alive_connections(endpoint):
    import threading

    errors, done = [], []

    def worker(i):
        try:
            with dbapi.connect(url=endpoint.url) as conn:
                sock = conn._transport._conn.sock
                cur = conn.cursor()
                cur.execute(
                    f"CREATE OR REPLACE TEMPORARY VIEW ka_v AS SELECT {i} AS x"
                )
                for j in range(8):
                    cur.execute("SELECT x + ? AS y FROM ka_v", [j])
                    assert cur.fetchall() == [(i + j,)], (i, j)
                    cur.execute(
                        "SELECT count(*) FROM nation WHERE n_regionkey = ?",
                        [i % 5],
                    )
                    assert cur.fetchall() == [(5,)]
                # every request went over the one kept-alive socket
                assert conn._transport._conn.sock is sock
            done.append(i)
        except Exception as ex:  # surfaced after join
            errors.append((i, repr(ex)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert sorted(done) == [0, 1, 2]


def test_rest_reconnects_after_idle_close(service, monkeypatch):
    """The endpoint closes a connection idle past IDLE_CONNECTION_S; the
    next statement, a POST, goes out on a fresh connection instead of
    failing on the closed one."""
    import time

    from apache_flink_spark import sql_gateway

    monkeypatch.setattr(sql_gateway, "IDLE_CONNECTION_S", 0.2)
    ep = SqlGatewayRestEndpoint(service).start()
    try:
        with dbapi.connect(url=ep.url) as conn:
            cur = conn.cursor()
            assert cur.execute("SELECT 1 AS a").fetchall() == [(1,)]
            sock = conn._transport._conn.sock
            time.sleep(1.0)
            assert dbapi._dropped(conn._transport._conn)
            assert cur.execute("SELECT 2 AS a").fetchall() == [(2,)]
            assert conn._transport._conn.sock is not sock
    finally:
        ep.stop()
