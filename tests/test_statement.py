"""The statement classifier (apache_flink_spark/statement.py) and the
routing it gives TableEnvironment.sql: one route per statement from its
leading keywords, whatever comments lead it or ``;`` ends it, and the
MATCH_RECOGNIZE rewrite inside every statement that carries a query."""

from __future__ import annotations

import pytest

from apache_flink_spark.statement import (
    ROUTES,
    classify,
    in_literal,
    keywords,
    literal_spans,
)

SF = "/root/testdata/sf0.001"


# -- the classifier, no Spark ---------------------------------------------------


@pytest.mark.parametrize("head,route", sorted(ROUTES.items()))
def test_every_route_table_head_maps_to_its_route(head, route):
    stmt = " ".join(head) + " x"
    assert classify(stmt).route == route
    assert classify(f"/* c */ -- c\n  {stmt.lower()} ;").route == route


@pytest.mark.parametrize(
    "query",
    ["SELECT 'STOP JOB'", "SELECT 'MATCH_RECOGNIZE' AS s", "(SELECT 1)"],
)
def test_literals_and_parens_stay_queries(query):
    assert classify(query).route == "query"


@pytest.mark.parametrize(
    "query,route",
    [
        ("CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1", "view"),
        ("DROP TEMPORARY SYSTEM FUNCTION f", "function"),
        ("CREATE OR REPLACE TABLE t WITH ('a' = 'b') AS SELECT 1", "table_ddl"),
        ("DESC JOB 'j'", "jobs"),
        ("DESCRIBE t", "alter"),
        ("DESCRIBE DATABASE d", "catalog"),
        ("SHOW CREATE VIEW v", "catalog"),
        ("SHOW CREATE MODEL m", "model"),
        ("ALTER MATERIALIZED TABLE mt SUSPEND", "materialized_table"),
        ("EXECUTE STATEMENT SET BEGIN INSERT INTO t SELECT 1; END", "statement_set"),
        ("EXECUTE PLAN '/p.json'", "plan"),
        ("CACHE TABLE t", "query"),
    ],
)
def test_longest_head_wins(query, route):
    assert classify(query).route == route


def test_normalisation_strips_leading_comments_and_trailing_semicolon():
    stmt = classify("  -- one\n/* two\n */ SHOW MODELS ; ")
    assert stmt.text == stmt.sql == "SHOW MODELS"
    assert stmt.head == ("SHOW", "MODELS")
    # a ';' inside a literal is data
    assert classify("SELECT 'a;'").text == "SELECT 'a;'"
    assert classify("SELECT 'a;").text == "SELECT 'a;"
    assert classify("SELECT 1;;").text == "SELECT 1"
    # trailing comments go too, outside literals
    for query in ("SHOW JOBS -- all", "SHOW JOBS;  -- all", "SHOW JOBS /* c */"):
        assert classify(query).text == "SHOW JOBS"
    assert classify("SET 'k' = 'v' -- c").text == "SET 'k' = 'v'"
    assert classify("SELECT '--x'").text == "SELECT '--x'"
    assert classify("SELECT 1 /* it's */ -- x").text == "SELECT 1"
    hinted = "SELECT * FROM t /*+ OPTIONS('a'='b') */"
    assert classify(hinted + " -- c").text == hinted


def test_configures_reads_the_leading_verb():
    assert classify("/* c */ SET 'k' = 'v'").configures
    assert classify("-- c\nCREATE TEMPORARY VIEW v AS SELECT 1").configures
    assert not classify("SELECT 1").configures
    assert not classify("/* SET */ SELECT 1").configures
    assert not classify("").configures


def test_literal_scanner():
    sql = "SELECT 'it''s (', \"q)\" FROM t WHERE x = 'open"
    spans = literal_spans(sql)
    assert [sql[a: b + 1] for a, b in spans] == [
        "'it''s ('", '"q)"', "'open",
    ]
    assert in_literal(spans, sql.index("("))
    assert in_literal(spans, sql.index("'"))
    assert not in_literal(spans, sql.index("FROM"))
    assert not in_literal([], 0)
    # a quote char inside a `quoted identifier` opens no literal
    sql = "PATTERN (`A\"` l C) DEFINE `it's` AS name = 'a'"
    assert [sql[a: b + 1] for a, b in literal_spans(sql)] == ["'a'"]


def test_keywords_skip_literals():
    words = keywords("SELECT 'TUMBLE' AS w /*+ OPTIONS('a'='b') */ FROM t")
    assert "TUMBLE" not in words
    assert {"SELECT", "AS", "W", "FROM", "T", "/*+"} <= words
    assert "/*+" not in keywords("SELECT '/*+' AS s")


# -- routing through TableEnvironment.sql ----------------------------------------


@pytest.fixture(scope="module")
def tenv(spark):
    from apache_flink_spark.environment import TableEnvironment

    return TableEnvironment(spark=spark, sf_dir=SF)


def _ddl_table(tenv, spark, path, name):
    spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "a int, b string"
    ).write.parquet(path)
    tenv.sql(
        f"CREATE TABLE {name} (a INT, b STRING) WITH ("
        f"'connector' = 'filesystem', 'path' = '{path}', "
        "'format' = 'parquet')"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "decorated,bare",
    [
        ("SHOW JOBS;", "SHOW JOBS"),
        ("SHOW PROCEDURES;", "SHOW PROCEDURES"),
        ("-- c\nSHOW MODELS", "SHOW MODELS"),
        ("/* c */ SHOW CURRENT CATALOG", "SHOW CURRENT CATALOG"),
        ("-- c\nSHOW CREATE TABLE stmt_ddl", "SHOW CREATE TABLE stmt_ddl"),
        ("SHOW JOBS -- all", "SHOW JOBS"),
        ("SHOW JOBS;  -- all", "SHOW JOBS"),
        ("SHOW MODELS /* c */", "SHOW MODELS"),
        ("SET 'stmt.c.key' = 'v' -- c", "SET 'stmt.c.key' = 'v'"),
    ],
)
def test_decorated_statement_returns_what_the_bare_one_does(
    tenv, spark, tmp_path, decorated, bare
):
    if "stmt_ddl" in bare:
        _ddl_table(tenv, spark, str(tmp_path / "t"), "stmt_ddl")
    if "MODELS" in bare:
        tenv.sql(
            "CREATE TEMPORARY MODEL IF NOT EXISTS stmt_m "
            "INPUT (e ARRAY<FLOAT>) OUTPUT (score DOUBLE) "
            "WITH ('provider' = 'vector-l2norm')"
        )
    assert _rows(tenv.sql(decorated)) == _rows(tenv.sql(bare))


def test_decorated_set_applies_the_key(tenv, spark):
    out = tenv.sql("/* c */ SET 'stmt.test.key' = 'v1'")
    assert _rows(out) == [("OK",)]
    assert spark.conf.get("stmt.test.key") == "v1"
    tenv.sql("RESET 'stmt.test.key';")


def test_decorated_delete_deletes_like_the_bare_one(tenv, spark, tmp_path):
    _ddl_table(tenv, spark, str(tmp_path / "d1"), "stmt_del1")
    _ddl_table(tenv, spark, str(tmp_path / "d2"), "stmt_del2")
    got = tenv.sql("DELETE FROM stmt_del1 WHERE a = 2;")
    want = tenv.sql("DELETE FROM stmt_del2 WHERE a = 2")
    assert _rows(got) == _rows(want) == [(1,)]
    assert _rows(spark.table("stmt_del1")) == _rows(spark.table("stmt_del2"))
    assert _rows(spark.table("stmt_del1")) == [(1, "x"), (3, "z")]


# -- MATCH_RECOGNIZE inside statements that carry a query -------------------------

_MR_QUERY = """
    SELECT user_id, b_seq FROM stmt_seq MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY seq
        MEASURES B.seq AS b_seq
        PATTERN (A+ B)
        DEFINE A AS A.v < 100, B AS B.v >= 100
    )"""


@pytest.fixture()
def seq_and_sink(tenv, spark, tmp_path):
    spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 200.0), (1, 3, 20.0), (1, 4, 300.0),
         (2, 1, 5.0)],
        "user_id int, seq int, v double",
    ).createOrReplaceTempView("stmt_seq")
    tenv.sql(
        "CREATE TABLE stmt_mr_sink (user_id INT, b_seq INT) WITH ("
        f"'connector' = 'filesystem', 'path' = '{tmp_path / 'sink'}', "
        "'format' = 'parquet')"
    )
    return "stmt_mr_sink"


def test_match_recognize_inserts_into_a_ddl_table(tenv, spark, seq_and_sink):
    tenv.sql(f"INSERT INTO {seq_and_sink}{_MR_QUERY};")
    assert _rows(spark.table(seq_and_sink)) == [(1, 2), (1, 4)]


def test_match_recognize_in_a_statement_set(tenv, spark, seq_and_sink):
    out = tenv.sql(
        "EXECUTE STATEMENT SET BEGIN "
        f"INSERT INTO {seq_and_sink}{_MR_QUERY}; END;"
    )
    assert _rows(out) == [(0, seq_and_sink, "OK")]
    assert _rows(spark.table(seq_and_sink)) == [(1, 2), (1, 4)]


def test_show_create_view_over_match_recognize(tenv, spark, seq_and_sink):
    ddl = f"CREATE TEMPORARY VIEW stmt_mr_v AS{_MR_QUERY}"
    tenv.sql(ddl)
    assert _rows(tenv.sql("SELECT * FROM stmt_mr_v")) == [(1, 2), (1, 4)]
    shown = tenv.sql("SHOW CREATE VIEW stmt_mr_v").collect()[0].result
    assert shown == ddl.strip()
    tenv.sql("DROP VIEW stmt_mr_v")


def test_spark_explain_plans_the_rewritten_query(tenv, seq_and_sink):
    plan = tenv.sql(f"EXPLAIN EXTENDED{_MR_QUERY}").collect()[0][0]
    assert "== Physical Plan ==" in plan and "__mr_matches_" in plan
