"""SQL client: embedded + REST gateway modes, tableau rendering, script
splitting. Reference parity model: flink-sql-client CliClient/CliTableauResultView.
"""

from __future__ import annotations

import io

import pytest

from apache_flink_spark.sql_client import (
    GatewayClient,
    RestGatewayClient,
    SqlClient,
    render_tableau,
    split_statements,
)
from apache_flink_spark.sql_gateway import (
    SqlGatewayRestEndpoint,
    SqlGatewayService,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def service(spark):
    svc = SqlGatewayService(spark=spark, sf_dir=SF)
    yield svc
    svc.close()


def test_split_statements():
    assert split_statements("SELECT 1; SELECT 2;") == ["SELECT 1", " SELECT 2"]
    # ';' inside a string literal must not split
    assert split_statements("SELECT 'a;b' AS x; SELECT 2") == [
        "SELECT 'a;b' AS x",
        " SELECT 2",
    ]
    # escaped quote inside a literal
    assert split_statements("SELECT 'it''s;ok'; SELECT 3")[0] == (
        "SELECT 'it''s;ok'"
    )
    # -- comments stripped to end-of-line
    assert split_statements("SELECT 1 -- trailing; not a split\n; SELECT 2") \
        == ["SELECT 1 \n", " SELECT 2"]
    # nor inside a double-quoted literal or a block comment
    assert split_statements('SELECT "a;b" AS x; SELECT 1;') == [
        'SELECT "a;b" AS x', " SELECT 1",
    ]
    assert split_statements("SELECT 1 /* a;b */ AS x; SELECT 2") == [
        "SELECT 1 /* a;b */ AS x", " SELECT 2",
    ]


def test_render_tableau():
    out = render_tableau(
        [("a", "int"), ("b", "string")], iter([(1, "x"), (2, None)])
    )
    lines = out.splitlines()
    assert lines[0].startswith("+") and "| a" in lines[1]
    assert "<NULL>" in out and out.endswith("2 row(s)")


def test_embedded_client_roundtrip(service):
    cli = GatewayClient(service)
    try:
        cols, rows = cli.execute(
            "SELECT n_name FROM nation ORDER BY n_name LIMIT 2"
        )
        assert [c[0] for c in cols] == ["n_name"]
        got = list(rows)
        assert len(got) == 2 and got == sorted(got)
    finally:
        cli.close()


def test_embedded_pagination(service):
    cli = GatewayClient(service)
    try:
        _, rows = cli.execute(
            "SELECT l_orderkey FROM lineitem LIMIT 2500", max_rows=100
        )
        assert sum(1 for _ in rows) == 2500  # 25 pages walked transparently
    finally:
        cli.close()


def test_sql_client_script_and_errors(service):
    buf = io.StringIO()
    cli = SqlClient(GatewayClient(service), out=buf)
    cli.run_script(
        "SET 'spark.sql.shuffle.partitions' = '4';\n"
        "SELECT count(*) AS n FROM region;\n"
        "SELECT * FROM missing_table_abc;\n"  # error must not kill the loop
        "SELECT 1 AS still_alive;\n"
    )
    out = buf.getvalue()
    assert "| n" in out and "| 5" in out
    assert "[ERROR]" in out
    assert "still_alive" in out
    cli.client.close()


def test_rest_client_full_loop(service):
    ep = SqlGatewayRestEndpoint(service).start()
    try:
        cli = RestGatewayClient(ep.url)
        cols, rows = cli.execute(
            "SELECT r_name FROM region ORDER BY r_name"
        )
        names = [r[0] for r in rows]
        assert len(names) == 5 and names == sorted(names)
        cli.close()
    finally:
        ep.stop()


def test_quit_ends_repl(service):
    buf = io.StringIO()
    cli = SqlClient(GatewayClient(service), out=buf)
    cli.repl(inp=io.StringIO("SELECT 7 AS seven;\nQUIT;\nSELECT 8 AS eight;\n"))
    out = buf.getvalue()
    assert "seven" in out and "eight" not in out
    cli.client.close()


def test_split_statements_keeps_statement_set_intact():
    from apache_flink_spark.sql_client import split_statements

    parts = split_statements(
        "SELECT 1; EXECUTE STATEMENT SET BEGIN INSERT INTO a SELECT 1; "
        "INSERT INTO b SELECT ';'; END; SELECT 2"
    )
    assert len(parts) == 3
    assert parts[1].strip().upper().startswith("EXECUTE STATEMENT SET")
    assert parts[1].rstrip().upper().endswith("END")
    assert parts[2].strip() == "SELECT 2"
