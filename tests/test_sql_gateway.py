"""SQL gateway service + REST endpoint lifecycle tests.

Reference parity model: SqlGatewayServiceITCase / the rest-endpoint ITCases
(session open/close, statement submit, token-paginated fetch, cancel,
errors surfacing at fetch). Oracle: direct spark.sql on the same session.
"""

from __future__ import annotations

import gc
import json
import sys
import threading
import time
import urllib.request
import weakref

import pytest

from apache_flink_spark.session import session_state
from apache_flink_spark.sql_gateway import (
    GatewayError,
    OperationStatus,
    ResultKind,
    SessionHandle,
    SqlGatewayRestEndpoint,
    SqlGatewayService,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def service(spark):
    svc = SqlGatewayService(spark=spark, sf_dir=SF)
    yield svc
    svc.close()


@pytest.fixture()
def session(service):
    h = service.open_session()
    yield h
    try:
        service.close_session(h)
    except GatewayError:
        pass


def _run(service, session, sql, max_rows=10_000):
    oh = service.execute_statement(session, sql)
    assert service.await_operation(session, oh) is OperationStatus.FINISHED
    rows, token = [], 0
    while token is not None:
        rs = service.fetch_results(session, oh, token, max_rows=max_rows)
        rows.extend(rs.data)
        token = rs.next_token
        if rs.result_type is ResultKind.EOS:
            break
    return rows


def test_execute_matches_direct_sql(service, session, spark):
    sql = (
        "SELECT l_returnflag, count(*) AS n FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    got = _run(service, session, sql)
    # oracle: the same statement on a directly-loaded session
    from apache_flink_spark.environment import TableEnvironment

    tenv = TableEnvironment(spark=spark, sf_dir=SF)
    want = [tuple(r) for r in tenv.sql(sql).collect()]
    assert got == want


def test_fetch_pagination_and_replay(service, session):
    oh = service.execute_statement(
        session, "SELECT l_orderkey, l_linenumber FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber LIMIT 25"
    )
    service.await_operation(session, oh)
    p0 = service.fetch_results(session, oh, 0, max_rows=10)
    assert p0.result_type is ResultKind.PAYLOAD and len(p0.data) == 10
    assert p0.next_token == 1
    # replay of the last served page (lost-response recovery)
    again = service.fetch_results(session, oh, 0, max_rows=10)
    assert again.data == p0.data
    p1 = service.fetch_results(session, oh, 1, max_rows=10)
    p2 = service.fetch_results(session, oh, 2, max_rows=10)
    assert len(p1.data) == 10 and len(p2.data) == 5
    # stale token beyond the replay window fails loudly
    with pytest.raises(GatewayError, match="invalid fetch token"):
        service.fetch_results(session, oh, 0, max_rows=10)
    p3 = service.fetch_results(session, oh, 3, max_rows=10)
    assert p3.result_type is ResultKind.EOS and p3.next_token is None


def test_result_schema_and_info(service, session):
    oh = service.execute_statement(
        session, "SELECT n_nationkey, n_name FROM nation LIMIT 1"
    )
    service.await_operation(session, oh)
    cols = service.get_operation_result_schema(session, oh)
    assert cols == [("n_nationkey", "bigint"), ("n_name", "string")] or [
        c[0] for c in cols
    ] == ["n_nationkey", "n_name"]
    info = service.get_operation_info(session, oh)
    assert info["status"] == "FINISHED" and info["exception"] is None


def test_error_surfaces_at_fetch(service, session):
    oh = service.execute_statement(session, "SELECT * FROM no_such_table_xyz")
    status = service.await_operation(session, oh)
    assert status is OperationStatus.ERROR
    with pytest.raises(GatewayError, match="operation failed"):
        service.fetch_results(session, oh, 0)
    assert "no_such_table_xyz" in str(
        service.get_operation_info(session, oh)["exception"]
    ).lower() or service.get_operation_info(session, oh)["exception"]


def test_session_isolation_temp_views(service):
    s1, s2 = service.open_session(), service.open_session()
    try:
        service.configure_session(
            s1, "CREATE TEMPORARY VIEW gw_iso AS SELECT 1 AS x"
        )
        assert _run(service, s1, "SELECT x FROM gw_iso") == [(1,)]
        oh = service.execute_statement(s2, "SELECT x FROM gw_iso")
        assert service.await_operation(s2, oh) is OperationStatus.ERROR
    finally:
        service.close_session(s1)
        service.close_session(s2)


def test_session_isolation_ddl_table_writes(service, tmp_path):
    # the same table name in two sessions, over two paths
    s1, s2 = service.open_session(), service.open_session()
    try:
        for h, sub in ((s1, "a"), (s2, "b")):
            service.configure_session(
                h,
                "CREATE TABLE gw_iso_t (x INT) WITH ('connector' = "
                f"'filesystem', 'path' = '{tmp_path / sub}', "
                "'format' = 'parquet')",
            )
        _run(service, s1, "INSERT INTO gw_iso_t VALUES (1), (2)")
        assert list((tmp_path / "a").glob("*.parquet"))
        assert not list((tmp_path / "b").glob("*.parquet"))
        assert _run(service, s1, "SELECT count(*) FROM gw_iso_t") == [(2,)]
        assert _run(service, s2, "SELECT count(*) FROM gw_iso_t") == [(0,)]
    finally:
        service.close_session(s1)
        service.close_session(s2)


def test_session_isolation_view_ddl(service):
    s1, s2 = service.open_session(), service.open_session()
    try:
        ddl = {
            h: f"CREATE TEMPORARY VIEW gw_vv AS SELECT {x} AS x"
            for h, x in ((s1, 1), (s2, 2))
        }
        for h, stmt in ddl.items():
            service.configure_session(h, stmt)
        for h, stmt in ddl.items():
            assert _run(service, h, "SHOW CREATE VIEW gw_vv") == [(stmt,)]
    finally:
        service.close_session(s1)
        service.close_session(s2)


def test_session_isolation_current_catalog(service):
    s1, s2 = service.open_session(), service.open_session()
    try:
        service.configure_session(
            s1, "CREATE CATALOG gw_c1 WITH ('type' = 'generic_in_memory')"
        )
        service.configure_session(s1, "USE CATALOG gw_c1")
        assert _run(service, s1, "SHOW CURRENT CATALOG") == [("gw_c1",)]
        assert _run(service, s2, "SHOW CURRENT CATALOG") == [
            ("spark_catalog",)
        ]
    finally:
        service.close_session(s1)
        service.close_session(s2)


def test_every_fresh_session_resolves_flink_functions(spark):
    # sessions opened and dropped in turn: a new one may take a dropped
    # one's address, and must still get its own functions
    svc = SqlGatewayService(spark=spark)
    try:
        for _ in range(30):
            h = svc.open_session()
            assert _run(svc, h, "SELECT is_true(TRUE)") == [(True,)]
            svc.close_session(h)
    finally:
        svc.close()


def test_session_state_is_created_once_under_contention(spark):
    # more threads than cores race to create a new session's state
    fresh, n = spark.newSession(), 16
    barrier, got = threading.Barrier(n), []

    def grab():
        barrier.wait(timeout=10)
        got.append(session_state(fresh))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=grab) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == n and all(st is got[0] for st in got)


def test_closed_session_is_released(service):
    # its fixture tables hold the session; closing it must let it go.
    # pyspark's RDD.toDF holds the newest session, so two are opened and
    # the first is checked.
    refs = []
    for _ in range(2):
        h = service.open_session()
        refs.append(weakref.ref(service._session(h).tenv.spark))
        assert _run(service, h, "SELECT count(*) FROM nation") == [(25,)]
        service.close_session(h)
    gc.collect()
    assert refs[0]() is None


def test_configure_session_rejects_queries(service, session):
    with pytest.raises(GatewayError, match="configure_session only accepts"):
        service.configure_session(session, "SELECT 1")


def test_configure_session_reads_past_a_leading_comment(service, session):
    service.configure_session(session, "/* c */ SET 'gw.comment.key' = 'v'")
    sess_spark = service._session(session).tenv.spark
    assert sess_spark.conf.get("gw.comment.key") == "v"
    for query in ("SELECT 1", "/* SET */ SELECT 1"):
        with pytest.raises(GatewayError, match="configure_session only"):
            service.configure_session(session, query)


def test_configure_set_is_session_scoped(service, session, spark):
    service.configure_session(
        session, "SET 'spark.sql.shuffle.partitions' = '7'"
    )
    sess_spark = service._session(session).tenv.spark
    assert sess_spark.conf.get("spark.sql.shuffle.partitions") == "7"
    # the base session is untouched (isolation)
    assert spark.conf.get("spark.sql.shuffle.partitions") != "7"


def test_cancel_operation(service, session):
    # a statement slow enough to still be running when cancel lands
    oh = service.execute_statement(
        session,
        "SELECT count(*) FROM lineitem a CROSS JOIN lineitem b "
        "CROSS JOIN lineitem c",
    )
    time.sleep(0.3)
    service.cancel_operation(session, oh)
    info = service.get_operation_info(session, oh)
    assert info["status"] in ("CANCELED", "CLOSED")
    with pytest.raises(GatewayError):
        service.fetch_results(session, oh, 0)


def test_cancel_before_first_job_kills_later_jobs(service, session):
    oh = service.execute_statement(
        session, "SELECT java_method('java.lang.Thread', 'sleep', 8000L) AS s"
    )
    op = service._session(session).operations[oh.identifier]
    deadline = time.monotonic() + 30
    while op.started_at is None:  # a worker took it; no job submitted yet
        assert time.monotonic() < deadline, "operation never started"
        time.sleep(0.005)
    service.cancel_operation(session, oh)
    assert service.get_operation_info(session, oh)["status"] == "CANCELED"
    # the job submitted after the cancel is killed, not left to sleep 8 s
    assert op.worker_exited.wait(6), "canceled statement still running"
    tracker = service._base_spark.sparkContext.statusTracker()
    states = [
        info.status
        for j in tracker.getJobIdsForGroup(oh.identifier)
        if (info := tracker.getJobInfo(j)) is not None
    ]
    assert "SUCCEEDED" not in states


def test_unknown_handles(service, session):
    with pytest.raises(GatewayError, match="unknown session"):
        service.execute_statement(SessionHandle("nope"), "SELECT 1")
    from apache_flink_spark.sql_gateway import OperationHandle

    with pytest.raises(GatewayError, match="unknown operation"):
        service.fetch_results(session, OperationHandle("nope"), 0)


def test_catalog_introspection(service, session):
    assert "lineitem" in service.list_tables(session)
    assert service.get_current_catalog(session)
    assert "abs" in {f.lower() for f in service.list_system_functions(session)}


def test_complete_statement(service, session):
    cands = service.complete_statement(session, "SELECT * FROM LINE", 19)
    assert "LINEITEM" in cands
    assert service.complete_statement(session, "SEL", 3) == ["SELECT"]


def test_submit_operation_thunk(service, session):
    sess_spark = service._session(session).tenv.spark
    oh = service.submit_operation(
        session, lambda: sess_spark.sql("SELECT 41 + 1 AS v")
    )
    assert service.await_operation(session, oh) is OperationStatus.FINISHED
    rs = service.fetch_results(session, oh, 0)
    assert rs.data == [(42,)]


# ---------------------------------------------------------------------------
# REST endpoint
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rest(service):
    ep = SqlGatewayRestEndpoint(service).start()
    yield ep
    ep.stop()


def _http(method, url, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    if data:
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_rest_full_lifecycle(rest):
    base = rest.url
    assert _http("GET", f"{base}/v2/info")["productName"] == (
        "apache_flink_spark"
    )
    assert "V2" in _http("GET", f"{base}/api_versions")["versions"]
    sh = _http("POST", f"{base}/v2/sessions", {})["sessionHandle"]
    oh = _http(
        "POST",
        f"{base}/v2/sessions/{sh}/statements",
        {"statement": "SELECT n_name FROM nation ORDER BY n_name LIMIT 3"},
    )["operationHandle"]
    # poll status then walk nextResultUri to EOS
    for _ in range(200):
        st = _http("GET", f"{base}/v2/sessions/{sh}/operations/{oh}/status")
        if st["status"] in ("FINISHED", "ERROR"):
            break
        time.sleep(0.05)
    assert st["status"] == "FINISHED"
    rows, uri = [], f"/v2/sessions/{sh}/operations/{oh}/result/0"
    while uri:
        page = _http("GET", base + uri)
        rows += [d["fields"] for d in page["results"]["data"]]
        if page["resultType"] == "EOS":
            break
        uri = page.get("nextResultUri")
    names = [r[0] for r in rows]
    assert len(names) == 3 and names == sorted(names)
    _http("DELETE", f"{base}/v2/sessions/{sh}/operations/{oh}/close")
    assert _http("DELETE", f"{base}/v2/sessions/{sh}")["status"] == "CLOSED"


def test_rest_errors(rest):
    base = rest.url
    with pytest.raises(urllib.error.HTTPError) as ei:
        _http("GET", f"{base}/v2/sessions/{'0' * 8}/operations/x/status")
    assert ei.value.code in (400, 404)


def test_rest_complete_and_configure(rest):
    base = rest.url
    sh = _http("POST", f"{base}/v2/sessions", {})["sessionHandle"]
    try:
        _http(
            "POST",
            f"{base}/v2/sessions/{sh}/configure-session",
            {"statement": "CREATE TEMPORARY VIEW rest_v AS SELECT 5 AS y"},
        )
        cands = _http(
            "POST",
            f"{base}/v2/sessions/{sh}/complete-statement",
            {"statement": "SELECT * FROM REST_", "position": 18},
        )["candidates"]
        assert "REST_V" in cands
        _http("POST", f"{base}/v2/sessions/{sh}/heartbeat", {})
    finally:
        _http("DELETE", f"{base}/v2/sessions/{sh}")


def test_concurrent_sessions_soak(service):
    """Thread-safety: N sessions execute statements simultaneously; every
    result must be correct and session-scoped (no cross-talk in temp
    views or operation maps)."""
    import threading

    errors = []

    def worker(i):
        try:
            h = service.open_session()
            try:
                service.configure_session(
                    h, f"CREATE TEMPORARY VIEW soak_v AS SELECT {i} AS x"
                )
                for _ in range(3):
                    rows = _run(service, h, "SELECT x + 1 AS y FROM soak_v")
                    assert rows == [(i + 1,)], (i, rows)
                    rows = _run(
                        service, h,
                        "SELECT count(*) AS n FROM lineitem WHERE "
                        f"l_orderkey % 7 = {i % 7}",
                    )
                    assert rows[0][0] > 0
            finally:
                service.close_session(h)
        except Exception as ex:  # surfaced after join
            errors.append((i, repr(ex)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors


def test_pagination_property_random_page_sizes(service):
    """Property: for ANY page-size sequence, walking the token protocol
    reassembles exactly the full result, and the replay window returns
    byte-identical pages."""
    import random

    h = service.open_session()
    try:
        want = None
        for seed in range(5):
            rng = random.Random(seed)
            oh = service.execute_statement(
                h,
                "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
                "ORDER BY l_orderkey, l_linenumber LIMIT 500",
            )
            service.await_operation(h, oh)
            rows, token = [], 0
            from apache_flink_spark.sql_gateway import ResultKind

            while token is not None:
                size = rng.choice([1, 3, 7, 50, 499, 1000])
                rs = service.fetch_results(h, oh, token, max_rows=size)
                if rng.random() < 0.3:
                    # replay the page just served (lost-response recovery);
                    # must be byte-identical
                    again = service.fetch_results(
                        h, oh, token, max_rows=size
                    )
                    assert again.data == rs.data
                    assert again.next_token == rs.next_token
                rows.extend(rs.data)
                token = rs.next_token
                if rs.result_type is ResultKind.EOS:
                    break
            if want is None:
                want = rows
            assert rows == want and len(rows) == 500
    finally:
        service.close_session(h)


def _keepalive(rest):
    """One kept-alive HTTP/1.1 connection to the endpoint; returns a
    request function (method, path, body) -> (status, json)."""
    import http.client
    import urllib.parse

    u = urllib.parse.urlsplit(rest.url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=60)

    def req(method, path, body=None):
        data = json.dumps(body).encode() if body is not None else None
        conn.request(method, path, data,
                     {"Content-Type": "application/json"} if data else {})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())

    return conn, req


def test_rest_operation_timings_in_status(rest):
    conn, req = _keepalive(rest)
    try:
        _, r = req("POST", "/v2/sessions", {})
        sh = r["sessionHandle"]
        # an unknown route with a body leaves the connection usable
        code, _ = req("POST", "/v2/no/such/route", {"x": 1})
        assert code == 404
        _, r = req("POST", f"/v2/sessions/{sh}/statements",
                   {"statement": "SELECT n_name FROM nation LIMIT 2"})
        oh = r["operationHandle"]
        code, page = req("GET", f"/v2/sessions/{sh}/operations/{oh}/result/0")
        assert code == 200 and page["resultType"] == "PAYLOAD"
        _, st = req("GET", f"/v2/sessions/{sh}/operations/{oh}/status")
        assert st["status"] == "FINISHED"
        t = st["timings"]
        order = ["submitted", "started", "planned", "firstPageReady",
                 "finished"]
        assert all(t[k] is not None for k in order), t
        assert [t[k] for k in order] == sorted(t[k] for k in order)
        req("DELETE", f"/v2/sessions/{sh}")
    finally:
        conn.close()


def test_rest_cancel_during_first_page(rest, service):
    conn, req = _keepalive(rest)
    try:
        _, r = req("POST", "/v2/sessions", {})
        sh = r["sessionHandle"]
        # long enough to be cancelled mid-job, short enough that a missed
        # cancel cannot hold a worker (and interpreter exit) for long
        _, r = req("POST", f"/v2/sessions/{sh}/statements", {
            "statement": "SELECT java_method('java.lang.Thread', 'sleep', "
            "8000L) AS s"
        })
        oh = r["operationHandle"]
        ops = f"/v2/sessions/{sh}/operations/{oh}"
        tracker = service._base_spark.sparkContext.statusTracker()

        def job_states():
            return [
                info.status
                for j in tracker.getJobIdsForGroup(oh)
                if (info := tracker.getJobInfo(j)) is not None
            ]

        deadline = time.monotonic() + 60
        while "RUNNING" not in job_states():  # the first-page job started
            assert time.monotonic() < deadline, "first-page job never ran"
            time.sleep(0.02)
        assert req("POST", f"{ops}/cancel", {})[0] == 200
        _, st = req("GET", f"{ops}/status")
        assert st["status"] == "CANCELED"
        assert st["timings"]["planned"] is not None
        assert st["timings"]["firstPageReady"] is None
        code, err = req("GET", f"{ops}/result/0")
        assert code == 400 and err["status"] == "CANCELED"
        # the first-page job itself was killed, not left sleeping
        while "RUNNING" in job_states():
            assert time.monotonic() < deadline, "first-page job not killed"
            time.sleep(0.1)
        assert job_states() and "SUCCEEDED" not in job_states()
        req("DELETE", f"/v2/sessions/{sh}")
    finally:
        conn.close()
