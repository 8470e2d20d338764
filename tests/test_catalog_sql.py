"""Catalog / database / module introspection statements — reference
flink-sql-parser SqlShowCatalogs / SqlShowDatabases / SqlShowTables /
SqlShowViews / SqlShowFunctions / SqlShowJars / SqlShowModules /
SqlLoadModule / SqlUnloadModule / SqlUseModules / SqlAnalyzeTable
(Parser.tdd statementParserMethods)."""

from __future__ import annotations

import pytest

from apache_flink_spark.catalog_sql import CatalogSqlError
from apache_flink_spark.environment import TableEnvironment


@pytest.fixture()
def spark(spark):
    """A fresh session per test: module state is per session."""
    return spark.newSession()


@pytest.fixture()
def te(spark):
    env = TableEnvironment(spark=spark)
    spark.createDataFrame(
        [(1, "a"), (2, None), (2, "c")], "k int, s string"
    ).createOrReplaceTempView("cat_t")
    return env


def test_show_catalogs_and_current(te):
    rows = te.sql("SHOW CATALOGS").collect()
    assert te.sql("SHOW CATALOGS").columns == ["catalog name"]
    assert "spark_catalog" in [r[0] for r in rows]
    cur = te.sql("SHOW CURRENT CATALOG").collect()[0][0]
    assert cur == "spark_catalog"
    te.sql("USE CATALOG spark_catalog")  # round-trips
    # r7: CREATE CATALOG works for generic_in_memory (tests/test_catalogs.py);
    # r8: 'hive' is supported but needs a Hive-enabled session
    # (tests/test_hive_catalog.py); other external types error loudly
    from apache_flink_spark.catalogs import CatalogError

    with pytest.raises(CatalogError, match="unsupported catalog type"):
        te.sql("CREATE CATALOG c2 WITH ('type' = 'jdbc')")
    with pytest.raises(CatalogError, match="hive_session"):
        te.sql("CREATE CATALOG c2 WITH ('type' = 'hive')")


def test_show_databases_tables_views(te):
    assert te.sql("SHOW DATABASES").columns == ["database name"]
    assert "default" in [r[0] for r in te.sql("SHOW DATABASES").collect()]
    assert (
        te.sql("SHOW CURRENT DATABASE").collect()[0][0] == "default"
    )
    tables = [r[0] for r in te.sql("SHOW TABLES").collect()]
    assert "cat_t" in tables
    assert te.sql("SHOW TABLES").columns == ["table name"]
    liked = [r[0] for r in te.sql("SHOW TABLES LIKE 'cat%'").collect()]
    assert liked == ["cat_t"]
    notliked = [
        r[0] for r in te.sql("SHOW TABLES NOT LIKE 'cat%'").collect()
    ]
    assert "cat_t" not in notliked
    views = [r[0] for r in te.sql("SHOW VIEWS").collect()]
    assert "cat_t" in views  # temp views ARE views in Flink's listing


def test_show_functions(te):
    fns = [r[0] for r in te.sql("SHOW FUNCTIONS").collect()]
    assert "abs" in fns
    assert te.sql("SHOW FUNCTIONS").columns == ["function name"]
    liked = [
        r[0] for r in te.sql("SHOW FUNCTIONS LIKE 'to_timestamp%'").collect()
    ]
    assert "to_timestamp" in liked and all(
        f.startswith("to_timestamp") for f in liked
    )
    user = [r[0] for r in te.sql("SHOW USER FUNCTIONS").collect()]
    assert "abs" not in user  # built-ins are not user functions


def test_show_jars(te):
    assert te.sql("SHOW JARS").columns == ["jars"]
    te.sql("SHOW JARS").collect()  # empty session: no jars added


def test_module_manager_semantics(te):
    assert [r[0] for r in te.sql("SHOW MODULES").collect()] == ["core"]
    full = te.sql("SHOW FULL MODULES").collect()
    assert [(r[0], r.used) for r in full] == [("core", True)]
    with pytest.raises(CatalogSqlError, match="already loaded"):
        te.sql("LOAD MODULE core")
    with pytest.raises(CatalogSqlError, match="not available"):
        te.sql("LOAD MODULE hive")
    te.sql("UNLOAD MODULE core")
    assert te.sql("SHOW MODULES").count() == 0
    with pytest.raises(CatalogSqlError, match="not loaded"):
        te.sql("UNLOAD MODULE core")
    te.sql("LOAD MODULE core")
    # USE MODULES with an empty effective set un-uses, FULL still lists
    te.sql("USE MODULES core")
    assert [r[0] for r in te.sql("SHOW MODULES").collect()] == ["core"]
    with pytest.raises(CatalogSqlError, match="not loaded"):
        te.sql("USE MODULES core, hive")


def test_analyze_table_stats(te):
    rows = te.sql(
        "ANALYZE TABLE cat_t COMPUTE STATISTICS FOR COLUMNS k, s"
    ).collect()
    got = {(r.column, r.stat): r.value for r in rows}
    assert got[("", "row_count")] == "3"
    assert got[("k", "ndv")] == "2"
    assert got[("s", "null_count")] == "1"
    assert got[("k", "min")] == "1" and got[("k", "max")] == "2"
    # FOR ALL COLUMNS covers every column; bare form row-count only
    all_rows = te.sql(
        "ANALYZE TABLE cat_t COMPUTE STATISTICS FOR ALL COLUMNS"
    ).collect()
    assert {r.column for r in all_rows} == {"", "k", "s"}
    bare = te.sql("ANALYZE TABLE cat_t COMPUTE STATISTICS").collect()
    assert [(r.stat, r.value) for r in bare] == [("row_count", "3")]
    with pytest.raises(CatalogSqlError, match="do not exist"):
        te.sql("ANALYZE TABLE cat_t COMPUTE STATISTICS FOR COLUMNS nope")


def test_plain_use_and_spark_show_fall_through(te):
    te.sql("USE default")  # Spark handles plain USE
    # statements the engine does not shape still reach Spark unchanged
    assert te.sql("SHOW TBLPROPERTIES cat_t") is not None


# -- r6 second-review regressions ---------------------------------------------


def test_analyze_leaves_spark_catalog_tables_to_native(te, spark, tmp_path):
    """ANALYZE on a NON-temp table must fall through to Spark, whose
    native ANALYZE persists stats for the CBO — intercepting it would
    silently drop that side effect (r6 review)."""
    from apache_flink_spark.catalog_sql import try_handle_catalog_statement

    spark.sql("DROP TABLE IF EXISTS an_managed")
    spark.sql(f"CREATE TABLE an_managed (k INT) USING parquet")
    try:
        assert (
            try_handle_catalog_statement(
                spark, "ANALYZE TABLE an_managed COMPUTE STATISTICS"
            )
            is None
        )
        # end-to-end through the facade: native ANALYZE runs and persists
        te.sql("ANALYZE TABLE an_managed COMPUTE STATISTICS")
        desc = spark.sql("DESCRIBE EXTENDED an_managed").collect()
        stats = [r.data_type for r in desc if r.col_name == "Statistics"]
        assert stats and "bytes" in stats[0]
    finally:
        spark.sql("DROP TABLE IF EXISTS an_managed")


def test_analyze_empty_table_zero_counts(te, spark):
    spark.createDataFrame([], "k int").createOrReplaceTempView("an_empty")
    rows = te.sql(
        "ANALYZE TABLE an_empty COMPUTE STATISTICS FOR COLUMNS k"
    ).collect()
    got = {(r.column, r.stat): r.value for r in rows}
    # SUM over zero rows is SQL NULL — must render 0, not 'None'
    assert got[("k", "null_count")] == "0"
    assert got[("k", "ndv")] == "0"


def test_use_modules_rejects_empty_list(te):
    with pytest.raises(CatalogSqlError, match="at least one"):
        te.sql("USE MODULES ,")
    # state untouched
    assert [r[0] for r in te.sql("SHOW MODULES").collect()] == ["core"]


def test_show_like_metacharacters_are_literal(te, spark):
    spark.range(1).createOrReplaceTempView("t1")
    # glob translation would let '[1]' match as a char class
    assert te.sql("SHOW TABLES LIKE 't[1]'").count() == 0
    assert te.sql("SHOW TABLES LIKE 't*'").count() == 0
    assert [r[0] for r in te.sql("SHOW TABLES LIKE 't_'").collect()] == ["t1"]


def test_show_create_view_replays_recorded_ddl(te, spark):
    """SqlShowCreateView: the facade records view DDL it routes (Spark
    keeps no SQL for temp views) and replays it; DataFrame-registered
    views error loudly."""
    te.sql(
        "CREATE OR REPLACE TEMPORARY VIEW scv_v AS "
        "SELECT 1 AS a UNION ALL SELECT 2"
    )
    ddl = te.sql("SHOW CREATE VIEW scv_v").collect()[0].result
    assert ddl.startswith("CREATE OR REPLACE TEMPORARY VIEW scv_v")
    # the recorded DDL re-executes (round-trip)
    te.sql(ddl.replace("scv_v", "scv_v2", 1))
    assert te.sql("SELECT count(*) AS n FROM scv_v2").collect()[0].n == 2
    te.sql("DROP VIEW scv_v")
    with pytest.raises(CatalogSqlError, match="no recorded DDL"):
        te.sql("SHOW CREATE VIEW scv_v")
    spark.range(1).createOrReplaceTempView("scv_df")
    with pytest.raises(CatalogSqlError, match="no recorded DDL"):
        te.sql("SHOW CREATE VIEW scv_df")
