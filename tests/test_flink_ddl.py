"""Flink CREATE TABLE DDL (connector tables + WATERMARK) — reference
SqlCreateTable / DynamicTableFactory parity."""

from __future__ import annotations

import pytest

from apache_flink_spark.ddl import (
    DdlError,
    execute_flink_ddl,
    stream_ddl_table,
)
from apache_flink_spark.environment import TableEnvironment
from apache_flink_spark.session import session_state


def test_filesystem_parquet_table(spark):
    te = TableEnvironment(spark=spark)
    te.sql(
        """
        CREATE TABLE ddl_docs (
            doc_id BIGINT,
            text STRING,
            lang STRING,
            source STRING,
            n_chars BIGINT
        ) WITH (
            'connector' = 'filesystem',
            'path' = '/root/testdata/sf0.001/documents.parquet',
            'format' = 'parquet'
        )
        """
    )
    got = te.sql("SELECT count(*) AS n, min(doc_id) AS lo FROM ddl_docs").collect()[0]
    want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert got.n == want.count()
    assert got.lo == want.agg({"doc_id": "min"}).collect()[0][0]


def test_watermark_clause_recorded_and_applied(spark):
    te = TableEnvironment(spark=spark)
    te.sql(
        """
        CREATE TABLE ddl_events (
            event_id BIGINT,
            user_id BIGINT,
            event_type STRING,
            value DOUBLE,
            ts BIGINT,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECONDS
        ) WITH (
            'connector' = 'filesystem',
            'path' = '/root/testdata/sf0.001/events.parquet',
            'format' = 'parquet'
        )
        """
    )
    assert session_state(spark).watermarks["ddl_events"] == ("ts", "5 seconds")
    # Batch view resolves; streaming replay carries the watermark.
    assert te.sql("SELECT count(*) AS n FROM ddl_events").collect()[0].n > 0
    st = stream_ddl_table(spark, "ddl_events")
    assert st.isStreaming
    # The declared watermark materializes as an EventTimeWatermark node.
    assert "EventTimeWatermark" in st._jdf.queryExecution().analyzed().toString()


def test_datagen_and_errors(spark):
    te = TableEnvironment(spark=spark)
    te.sql(
        """
        CREATE TABLE ddl_gen (seq BIGINT, small INT) WITH (
            'connector' = 'datagen', 'number-of-rows' = '7'
        )
        """
    )
    rows = te.sql("SELECT count(*) AS n, max(seq) AS mx FROM ddl_gen").collect()[0]
    assert (rows.n, rows.mx) == (7, 6)

    with pytest.raises(DdlError, match="unsupported connector"):
        execute_flink_ddl(
            spark,
            "CREATE TABLE k (x STRING) WITH ('connector'='kafka',"
            "'topic'='t')",
        )
    with pytest.raises(DdlError, match="computed columns"):
        execute_flink_ddl(
            spark,
            "CREATE TABLE c (x BIGINT, y AS x + 1) WITH "
            "('connector'='filesystem','path'='/tmp/x','format'='parquet')",
        )
    # Non-connector DDL falls through untouched.
    assert not execute_flink_ddl(spark, "CREATE TABLE plain (x INT)")


def test_primary_key_accepted_not_enforced(spark):
    te = TableEnvironment(spark=spark)
    te.sql(
        """
        CREATE TABLE ddl_nation (
            n_nationkey BIGINT,
            n_name STRING,
            n_regionkey BIGINT,
            n_comment STRING,
            PRIMARY KEY (n_nationkey) NOT ENFORCED
        ) WITH (
            'connector' = 'filesystem',
            'path' = '/root/testdata/sf0.001/nation.parquet',
            'format' = 'parquet'
        )
        """
    )
    assert te.sql("SELECT count(*) AS n FROM ddl_nation").collect()[0].n == 25


def test_insert_into_ddl_table(spark, tmp_path):
    te = TableEnvironment(spark=spark)
    path = str(tmp_path / "sink_tbl")
    te.sql(
        f"""
        CREATE TABLE ddl_sink (k BIGINT, v STRING) WITH (
            'connector' = 'filesystem', 'path' = '{path}',
            'format' = 'parquet'
        )
        """
    )
    te.sql("INSERT INTO ddl_sink SELECT id AS k, CAST(id * 2 AS STRING) AS v FROM range(5)")
    te.sql("INSERT INTO ddl_sink SELECT id + 10 AS k, 'x' AS v FROM range(3)")
    got = te.sql("SELECT count(*) AS n, max(k) AS mx FROM ddl_sink").collect()[0]
    assert (got.n, got.mx) == (8, 12)


def test_insert_overwrite_ddl_table(spark, tmp_path):
    """INSERT OVERWRITE (reference SupportsOverwrite filesystem sink):
    replaces the table contents instead of appending."""
    te = TableEnvironment(spark=spark)
    path = str(tmp_path / "ow_tbl")
    te.sql(
        f"""
        CREATE TABLE ddl_ow (k BIGINT, v STRING) WITH (
            'connector' = 'filesystem', 'path' = '{path}',
            'format' = 'parquet'
        )
        """
    )
    te.sql("INSERT INTO ddl_ow SELECT id AS k, 'a' AS v FROM range(5)")
    te.sql("INSERT OVERWRITE ddl_ow SELECT id + 100 AS k, 'b' AS v FROM range(2)")
    got = te.sql("SELECT count(*) AS n, min(k) AS mn FROM ddl_ow").collect()[0]
    assert (got.n, got.mn) == (2, 100)


def test_execute_statement_set(spark, tmp_path):
    """EXECUTE STATEMENT SET BEGIN ...; ...; END (reference
    SqlStatementSet): both inserts run as one unit with per-target OK
    rows; non-INSERT members error loudly."""
    import pytest as _pytest

    te = TableEnvironment(spark=spark)
    d1, d2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    te.sql(
        f"""CREATE TABLE ss_a (k BIGINT) WITH (
            'connector'='filesystem','path'='{d1}','format'='parquet')"""
    )
    te.sql(
        f"""CREATE TABLE ss_b (k BIGINT) WITH (
            'connector'='filesystem','path'='{d2}','format'='parquet')"""
    )
    res = te.sql(
        """
        EXECUTE STATEMENT SET BEGIN
          INSERT INTO ss_a SELECT id FROM range(3);
          INSERT INTO ss_b SELECT id * 2 FROM range(4);
        END
        """
    ).collect()
    assert [(r.stmt_index, r.target, r.result) for r in res] == [
        (0, "ss_a", "OK"), (1, "ss_b", "OK")
    ]
    assert spark.table("ss_a").count() == 3
    assert spark.table("ss_b").count() == 4
    with _pytest.raises(ValueError, match="must be INSERT"):
        te.sql(
            "EXECUTE STATEMENT SET BEGIN SELECT 1; END"
        )


def test_insert_values_and_column_list(spark, tmp_path):
    """r7: SqlInsert accepts VALUES rows and an explicit column list
    (unlisted columns NULL-padded, the reference's partial-insert rule)."""
    import pytest as _pytest

    from apache_flink_spark.ddl import DdlError
    from apache_flink_spark.environment import TableEnvironment

    te = TableEnvironment(spark=spark)
    te.sql(
        f"""
        CREATE TABLE iv_t (id BIGINT, v STRING, score DOUBLE) WITH (
            'connector' = 'filesystem',
            'path' = '{tmp_path}/iv_t',
            'format' = 'parquet'
        )
        """
    )
    te.sql("INSERT INTO iv_t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    rows = te.sql("SELECT * FROM iv_t ORDER BY id").collect()
    assert [(r.id, r.v, r.score) for r in rows] == [
        (1, "a", 1.5), (2, "b", 2.5)
    ]
    # column list: unlisted -> NULL
    te.sql("INSERT INTO iv_t (id, score) VALUES (3, 9.0)")
    r3 = te.sql("SELECT * FROM iv_t WHERE id = 3").collect()[0]
    assert (r3.v, r3.score) == (None, 9.0)
    # column list with SELECT source
    te.sql("INSERT INTO iv_t (v, id) SELECT 'd', 4")
    r4 = te.sql("SELECT * FROM iv_t WHERE id = 4").collect()[0]
    assert (r4.v, r4.score) == ("d", None)
    with _pytest.raises(DdlError, match="unknown column"):
        te.sql("INSERT INTO iv_t (nope) VALUES (1)")
    with _pytest.raises(DdlError, match="duplicate"):
        te.sql("INSERT INTO iv_t (id, id) VALUES (1, 2)")
    with _pytest.raises(DdlError, match="query columns"):
        te.sql("INSERT INTO iv_t (id, v) VALUES (1)")


def _data_files(root):
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def test_values_insert_writes_one_file_per_partition(spark, tmp_path):
    """A VALUES source is merged into one task before the write: one data
    file per insert (per partition directory on a partitioned table),
    not one per core."""
    te = TableEnvironment(spark=spark)
    te.sql(
        f"""
        CREATE TABLE vf_flat (k BIGINT, v STRING) WITH (
            'connector' = 'filesystem',
            'path' = '{tmp_path}/vf_flat',
            'format' = 'parquet'
        )
        """
    )
    te.sql("INSERT INTO vf_flat VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    te.sql("INSERT INTO vf_flat VALUES (4, 'd'), (5, 'e'), (6, 'f')")
    assert len(_data_files(f"{tmp_path}/vf_flat")) == 2
    rows = te.sql("SELECT k, v FROM vf_flat ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"), (6, "f")
    ]

    te.sql(
        f"""
        CREATE TABLE vf_part (k BIGINT, day STRING) PARTITIONED BY (day)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/vf_part',
              'format' = 'parquet')
        """
    )
    te.sql(
        "INSERT INTO vf_part VALUES (1, 'd1'), (2, 'd2'), (3, 'd1'), "
        "(4, 'd2'), (5, 'd3')"
    )
    files = _data_files(f"{tmp_path}/vf_part")
    assert sorted(f.split("/")[0] for f in files) == [
        "day=d1", "day=d2", "day=d3"
    ]
    rows = te.sql("SELECT k, day FROM vf_part ORDER BY k").collect()
    assert [(r.k, r.day) for r in rows] == [
        (1, "d1"), (2, "d2"), (3, "d1"), (4, "d2"), (5, "d3")
    ]
