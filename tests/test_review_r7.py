"""Regression pins for the round-6 ADVICE findings (round 7)."""

from __future__ import annotations

import pandas as pd
import pytest

from apache_flink_spark.environment import TableEnvironment


@pytest.fixture()
def te(spark):
    return TableEnvironment(spark=spark)


def test_truncate_native_table_falls_through(te, spark):
    """ADVICE (medium): TRUNCATE TABLE on a Spark-native managed table must
    reach spark.sql, not die in the row-level facade's _table_spec."""
    spark.sql("DROP TABLE IF EXISTS r7_native_trunc")
    spark.sql("CREATE TABLE r7_native_trunc (id INT) USING parquet")
    spark.sql("INSERT INTO r7_native_trunc VALUES (1), (2)")
    te.sql("TRUNCATE TABLE r7_native_trunc")
    assert spark.table("r7_native_trunc").count() == 0
    spark.sql("DROP TABLE r7_native_trunc")


def test_delete_native_table_falls_through_to_spark_error(te, spark):
    """DELETE on a non-DDL table must fall through; Spark's own error (the
    v1 source doesn't support deletes), not RowLevelError, is the surface."""
    from apache_flink_spark.row_level import RowLevelError

    spark.sql("DROP TABLE IF EXISTS r7_native_del")
    spark.sql("CREATE TABLE r7_native_del (id INT) USING parquet")
    try:
        with pytest.raises(Exception) as exc:
            te.sql("DELETE FROM r7_native_del WHERE id = 1")
        assert not isinstance(exc.value, RowLevelError)
    finally:
        spark.sql("DROP TABLE r7_native_del")


def test_create_like_native_source_falls_through(te, spark):
    """ADVICE (low): CREATE TABLE ... LIKE with a Spark-catalog source must
    fall through to spark.sql rather than raising DdlError."""
    spark.sql("DROP TABLE IF EXISTS r7_like_dst")
    spark.sql("DROP TABLE IF EXISTS r7_like_src")
    spark.sql("CREATE TABLE r7_like_src (id INT, name STRING) USING parquet")
    try:
        te.sql("CREATE TABLE r7_like_dst LIKE r7_like_src")
        assert spark.table("r7_like_dst").columns == ["id", "name"]
    finally:
        spark.sql("DROP TABLE IF EXISTS r7_like_dst")
        spark.sql("DROP TABLE r7_like_src")


def test_ptf_three_named_scalar_args(te, spark):
    """ADVICE (low): 3+ named scalar args left ' , , ' in the leftover check
    and were falsely rejected."""
    from apache_flink_spark.ptf import register_ptf

    def scaled(pdf, factor=2, offset=0, cap=10**9):
        out = pdf["v"].to_numpy() * factor + offset
        return pd.DataFrame({"k": pdf["k"].to_numpy(), "sv": out.clip(max=cap)})

    register_ptf("t_scaled3", scaled, "k int, sv bigint", semantics="row")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k int, v int"
    ).createOrReplaceTempView("r7_ptf_in")
    rows = te.sql(
        "SELECT k, sv FROM t_scaled3(TABLE r7_ptf_in, factor => 3, "
        "offset => 1, cap => 100) ORDER BY k"
    ).collect()
    assert [(r.k, r.sv) for r in rows] == [(1, 31), (2, 61)]


def test_alter_model_rename_collision_keeps_source(te, spark):
    """r7 review: rename onto an existing name must error WITHOUT
    destroying the source model."""
    from apache_flink_spark.models import ModelError

    te.sql("CREATE MODEL rr_a INPUT (v ARRAY<FLOAT>) OUTPUT (s DOUBLE) "
           "WITH ('provider' = 'l2norm')")
    te.sql("CREATE MODEL rr_b INPUT (v ARRAY<FLOAT>) OUTPUT (s DOUBLE) "
           "WITH ('provider' = 'l2norm')")
    try:
        with pytest.raises(ModelError, match="already exists"):
            te.sql("ALTER MODEL rr_a RENAME TO rr_b")
        models = [r[0] for r in te.sql("SHOW MODELS LIKE 'rr_%'").collect()]
        assert models == ["rr_a", "rr_b"]
    finally:
        te.sql("DROP MODEL IF EXISTS rr_a")
        te.sql("DROP MODEL IF EXISTS rr_b")


def test_distributed_create_respects_existing(te, spark):
    """r7 review: CREATE ... DISTRIBUTED BY must not silently drop an
    existing table; IF NOT EXISTS no-ops."""
    from apache_flink_spark.ddl import DdlError, execute_flink_ddl

    stmt = (
        "CREATE TABLE rr_dist (k BIGINT) DISTRIBUTED BY (k) INTO 4 "
        "BUCKETS WITH ('connector' = 'filesystem', 'format' = 'parquet')"
    )
    spark.sql("DROP TABLE IF EXISTS rr_dist")
    execute_flink_ddl(spark, stmt)
    try:
        spark.sql("INSERT INTO rr_dist VALUES (1)")
        with pytest.raises(DdlError, match="already exists"):
            execute_flink_ddl(spark, stmt)
        execute_flink_ddl(spark, stmt.replace(
            "CREATE TABLE", "CREATE TABLE IF NOT EXISTS"
        ))
        assert spark.table("rr_dist").count() == 1  # data survived
    finally:
        spark.sql("DROP TABLE IF EXISTS rr_dist")


def test_drop_distribution_keeps_partitioning(te, spark):
    from apache_flink_spark.ddl import execute_flink_ddl

    spark.sql("DROP TABLE IF EXISTS rr_pdist")
    execute_flink_ddl(
        spark,
        "CREATE TABLE rr_pdist (k BIGINT, dt STRING) DISTRIBUTED BY (k) "
        "INTO 4 BUCKETS PARTITIONED BY (dt) "
        "WITH ('connector' = 'filesystem', 'format' = 'parquet')",
    )
    try:
        spark.sql("INSERT INTO rr_pdist VALUES (1, 'a'), (2, 'b')")
        te.sql("ALTER TABLE rr_pdist DROP DISTRIBUTION")
        native = spark.sql("SHOW CREATE TABLE rr_pdist").collect()[0][0]
        assert "CLUSTERED BY" not in native
        assert "PARTITIONED BY" in native  # layout survived
        assert spark.table("rr_pdist").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS rr_pdist")


def test_catalog_use_passthrough_and_drop_semantics(spark, tmp_path):
    """r7 review: USE CATALOG for unknown names reaches Spark (its error,
    not CatalogError); unqualified DROP TABLE in a secondary catalog must
    not fall through to the built-in catalog's table."""
    from apache_flink_spark.catalogs import CatalogError

    te = TableEnvironment(spark=spark.newSession())
    with pytest.raises(Exception) as exc:
        te.sql("USE CATALOG no_such_plugin")
    assert not isinstance(exc.value, CatalogError)
    te.sql("CREATE CATALOG rr_cat WITH ('type' = 'generic_in_memory')")
    te.sql("USE CATALOG rr_cat")
    spark.sql("DROP TABLE IF EXISTS rr_builtin")
    spark.sql("CREATE TABLE rr_builtin (x INT) USING parquet")
    try:
        with pytest.raises(CatalogError, match="does not exist in"):
            te.sql("DROP TABLE rr_builtin")
        # still there
        te.sql("USE CATALOG spark_catalog")
        assert spark.catalog.tableExists("rr_builtin")
    finally:
        spark.sql("DROP TABLE IF EXISTS rr_builtin")


def test_failed_create_leaves_no_phantom_table(spark):
    """r7 review: a failed CREATE TABLE in a secondary catalog must not
    leave a phantom registry entry."""
    from apache_flink_spark.ddl import DdlError

    te = TableEnvironment(spark=spark.newSession())
    te.sql("CREATE CATALOG rr_ph WITH ('type' = 'generic_in_memory')")
    te.sql("USE CATALOG rr_ph")
    with pytest.raises(DdlError):
        # filesystem connector without 'path' fails after registration
        te.sql(
            "CREATE TABLE ghost (k BIGINT) WITH "
            "('connector' = 'filesystem', 'format' = 'parquet')"
        )
    assert te.sql("SHOW TABLES").count() == 0


def test_unqualified_rewrite_only_in_table_position(spark, tmp_path):
    """r7 review: a column/alias sharing a registered table's name must
    not be rewritten."""
    te = TableEnvironment(spark=spark.newSession())
    te.sql("CREATE CATALOG rr_tp WITH ('type' = 'generic_in_memory')")
    te.sql("USE CATALOG rr_tp")
    te.sql(
        f"CREATE TABLE price (v BIGINT) WITH ('connector' = "
        f"'filesystem', 'path' = '{tmp_path}/price', "
        "'format' = 'parquet')"
    )
    te.sql("INSERT INTO price SELECT 5")
    te.spark.createDataFrame(
        [(7,)], "price bigint"
    ).createOrReplaceTempView("quotes")
    # column named `price` selected from a DIFFERENT table
    assert te.sql("SELECT price FROM quotes").collect()[0].price == 7
    # table position still resolves to the catalog table
    assert te.sql("SELECT v FROM price").collect()[0].v == 5


def test_ctas_distributed_replace_is_staged(te, spark, sf_dir):
    """r7 review #1/#2: distributed RTAS must not destroy the old table
    before the SELECT runs (self-referencing replace works), and
    PARTITIONED BY columns bind by name, not query position."""
    from apache_flink_spark.catalog import load_tables
    from apache_flink_spark.ddl import execute_flink_ddl

    load_tables(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS rr_ctasd")
    execute_flink_ddl(
        spark,
        "CREATE TABLE rr_ctasd DISTRIBUTED BY (k) INTO 4 BUCKETS WITH "
        "('connector' = 'filesystem', 'format' = 'parquet') AS "
        "SELECT 1 AS k, 10 AS v",
    )
    try:
        # self-referencing replace: reads the table being replaced
        execute_flink_ddl(
            spark,
            "CREATE OR REPLACE TABLE rr_ctasd DISTRIBUTED BY (k) INTO 4 "
            "BUCKETS WITH ('connector' = 'filesystem', 'format' = "
            "'parquet') AS SELECT k, v + 1 AS v FROM rr_ctasd",
        )
        assert [(r.k, r.v) for r in spark.table("rr_ctasd").collect()] == [
            (1, 11)
        ]
        # a FAILING replace leaves the old table untouched
        import pytest as _pytest

        with _pytest.raises(Exception):
            execute_flink_ddl(
                spark,
                "CREATE OR REPLACE TABLE rr_ctasd DISTRIBUTED BY (k) "
                "WITH ('connector' = 'filesystem', 'format' = 'parquet') "
                "AS SELECT k, no_such_col FROM rr_ctasd",
            )
        assert [(r.k, r.v) for r in spark.table("rr_ctasd").collect()] == [
            (1, 11)
        ]
        # partition columns NOT last in the query bind correctly
        spark.sql("DROP TABLE IF EXISTS rr_ctasp")
        execute_flink_ddl(
            spark,
            "CREATE TABLE rr_ctasp DISTRIBUTED BY (k) INTO 2 BUCKETS "
            "PARTITIONED BY (p) WITH ('connector' = 'filesystem', "
            "'format' = 'parquet') AS SELECT 'x' AS p, 5 AS k, 7 AS v",
        )
        row = spark.table("rr_ctasp").collect()[0]
        assert (row.p, row.k, row.v) == ("x", 5, 7)
    finally:
        spark.sql("DROP TABLE IF EXISTS rr_ctasd")
        spark.sql("DROP TABLE IF EXISTS rr_ctasp")


def test_show_tables_builtin_ilike_and_bad_db(te, spark):
    """r7 review #4/#8: SHOW TABLES ILIKE works in the built-in catalog;
    a nonexistent database in a qualified listing errors loudly."""
    from apache_flink_spark.catalogs import CatalogError

    # Spark lower-cases temp-view names in the catalog — ILIKE still has
    # to match case-insensitively against the PATTERN's case
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView(
        "ilikeprobe"
    )
    try:
        assert "ilikeprobe" in [
            r[0] for r in te.sql("SHOW TABLES ILIKE 'ILIKE%'").collect()
        ]
        assert "ilikeprobe" not in [
            r[0] for r in te.sql("SHOW TABLES LIKE 'ILIKE%'").collect()
        ]
    finally:
        spark.catalog.dropTempView("ilikeprobe")
    te = TableEnvironment(spark=spark.newSession())
    te.sql("CREATE CATALOG rr_st WITH ('type' = 'generic_in_memory')")
    with pytest.raises(CatalogError, match="does not exist in catalog"):
        te.sql("SHOW TABLES FROM rr_st.no_such_db")


def test_cep_until_gates_or_where(spark):
    """r7 review #5: until() must stop the loop regardless of which
    where/or_where branch accepted the row."""
    from apache_flink_spark.cep import Pattern, cep_select

    df = spark.createDataFrame(
        # v, flag: row 3 matches the or_where branch AND the stop cond
        [(1, 1, 10, False, 100), (1, 2, 20, False, 200),
         (1, 3, 99, True, 300)],
        "k long, event_id long, v long, flag boolean, ep long",
    )
    p = (
        Pattern.begin("U").where("v < 50").or_where("flag")
        .one_or_more().until("v > 90")
    )
    out = cep_select(
        spark, df, p, "k", "ep",
        {"n": "COUNT(U.*)", "last_id": "LAST(U.event_id)"},
    )
    assert max(r.n for r in out.collect()) == 2  # stops before row 3
