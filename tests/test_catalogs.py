"""Multi-catalog (GenericInMemoryCatalog parity) — catalog/database DDL,
qualified resolution, cross-catalog joins."""

from __future__ import annotations

import pytest

from apache_flink_spark.catalogs import CatalogError
from apache_flink_spark.environment import TableEnvironment


@pytest.fixture()
def spark(spark):
    """A fresh session per test: catalogs are per session."""
    return spark.newSession()


@pytest.fixture()
def te(spark):
    return TableEnvironment(spark=spark)


def _mk_catalog(te, name="memcat"):
    te.sql(
        f"CREATE CATALOG {name} COMMENT 'an in-memory catalog' "
        "WITH ('type' = 'generic_in_memory', 'default-database' = 'db1')"
    )


def test_create_show_describe_drop_catalog(te):
    _mk_catalog(te)
    cats = [r[0] for r in te.sql("SHOW CATALOGS").collect()]
    assert "memcat" in cats and "spark_catalog" in cats and len(cats) > 1
    info = dict(te.sql("DESCRIBE CATALOG memcat").collect())
    assert info["name"] == "memcat"
    assert info["type"] == "generic_in_memory"
    assert info["comment"] == "an in-memory catalog"
    ext = dict(te.sql("DESCRIBE CATALOG EXTENDED memcat").collect())
    assert ext["option:default-database"] == "db1"
    with pytest.raises(CatalogError, match="already exists"):
        _mk_catalog(te)
    te.sql("CREATE CATALOG IF NOT EXISTS memcat WITH ('type' = 'generic_in_memory')")
    te.sql("DROP CATALOG memcat")
    assert "memcat" not in [r[0] for r in te.sql("SHOW CATALOGS").collect()]
    te.sql("DROP CATALOG IF EXISTS memcat")
    with pytest.raises(CatalogError, match="does not exist"):
        te.sql("DROP CATALOG memcat")


def test_alter_catalog_set_reset_comment(te):
    _mk_catalog(te)
    te.sql("ALTER CATALOG memcat SET ('owner' = 'me', 'tier' = 'gold')")
    ext = dict(te.sql("DESCRIBE CATALOG EXTENDED memcat").collect())
    assert ext["option:owner"] == "me" and ext["option:tier"] == "gold"
    te.sql("ALTER CATALOG memcat RESET ('tier')")
    ext = dict(te.sql("DESCRIBE CATALOG EXTENDED memcat").collect())
    assert "option:tier" not in ext
    te.sql("ALTER CATALOG memcat COMMENT 'renamed'")
    assert dict(te.sql("DESCRIBE CATALOG memcat").collect())["comment"] == "renamed"
    with pytest.raises(CatalogError, match="type"):
        te.sql("ALTER CATALOG memcat SET ('type' = 'hive')")


def test_use_catalog_and_databases(te):
    _mk_catalog(te)
    te.sql("USE CATALOG memcat")
    assert te.sql("SHOW CURRENT CATALOG").collect()[0][0] == "memcat"
    assert [r[0] for r in te.sql("SHOW DATABASES").collect()] == ["db1"]
    assert te.sql("SHOW CURRENT DATABASE").collect()[0][0] == "db1"
    te.sql("CREATE DATABASE db2 COMMENT 'second' WITH ('k' = 'v')")
    assert [r[0] for r in te.sql("SHOW DATABASES").collect()] == ["db1", "db2"]
    info = dict(te.sql("DESCRIBE DATABASE EXTENDED db2").collect())
    assert info["comment"] == "second" and info["option:k"] == "v"
    te.sql("USE db2")
    assert te.sql("SHOW CURRENT DATABASE").collect()[0][0] == "db2"
    te.sql("ALTER DATABASE db2 SET ('k' = 'w')")
    info = dict(te.sql("DESCRIBE DATABASE EXTENDED db2").collect())
    assert info["option:k"] == "w"
    with pytest.raises(CatalogError, match="current database"):
        te.sql("DROP DATABASE db2")
    te.sql("USE db1")
    te.sql("DROP DATABASE db2")
    assert [r[0] for r in te.sql("SHOW DATABASES").collect()] == ["db1"]
    te.sql("USE CATALOG spark_catalog")
    assert te.sql("SHOW CURRENT CATALOG").collect()[0][0] == "spark_catalog"


def test_tables_in_secondary_catalog(te, spark, tmp_path):
    _mk_catalog(te)
    te.sql("USE CATALOG memcat")
    te.sql(
        f"""
        CREATE TABLE t1 (k BIGINT, v STRING) WITH (
            'connector' = 'filesystem',
            'path' = '{tmp_path}/t1',
            'format' = 'parquet'
        )
        """
    )
    assert [r[0] for r in te.sql("SHOW TABLES").collect()] == ["t1"]
    te.sql("INSERT INTO t1 SELECT 1, 'a' UNION ALL SELECT 2, 'b'")
    assert te.sql("SELECT COUNT(*) AS n FROM t1").collect()[0].n == 2
    # fully-qualified access from the built-in catalog
    te.sql("USE CATALOG spark_catalog")
    assert (
        te.sql("SELECT COUNT(*) AS n FROM memcat.db1.t1").collect()[0].n == 2
    )
    # cross-catalog join: secondary table x built-in temp view
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k bigint, w int"
    ).createOrReplaceTempView("builtin_side")
    rows = te.sql(
        "SELECT b.k, t.v, b.w FROM memcat.db1.t1 t "
        "JOIN builtin_side b ON t.k = b.k ORDER BY b.k"
    ).collect()
    assert [(r.k, r.v, r.w) for r in rows] == [(1, "a", 10), (2, "b", 20)]
    # DROP TABLE by qualified name
    te.sql("DROP TABLE memcat.db1.t1")
    te.sql("USE CATALOG memcat")
    assert te.sql("SHOW TABLES").count() == 0
    te.sql("USE CATALOG spark_catalog")


def test_same_name_tables_do_not_collide(te, tmp_path):
    _mk_catalog(te, "cat_a")
    _mk_catalog(te, "cat_b")
    for cat, val in [("cat_a", "from_a"), ("cat_b", "from_b")]:
        te.sql("USE CATALOG " + cat)
        te.sql(
            f"""
            CREATE TABLE shared (v STRING) WITH (
                'connector' = 'filesystem',
                'path' = '{tmp_path}/{cat}_shared',
                'format' = 'parquet'
            )
            """
        )
        te.sql(f"INSERT INTO shared SELECT '{val}'")
    # unqualified resolves against the CURRENT catalog (cat_b)
    assert te.sql("SELECT v FROM shared").collect()[0].v == "from_b"
    te.sql("USE CATALOG cat_a")
    assert te.sql("SELECT v FROM shared").collect()[0].v == "from_a"
    # qualified access crosses catalogs either way
    rows = te.sql(
        "SELECT a.v AS av, b.v AS bv FROM cat_a.db1.shared a "
        "CROSS JOIN cat_b.db1.shared b"
    ).collect()
    assert (rows[0].av, rows[0].bv) == ("from_a", "from_b")
    te.sql("USE CATALOG spark_catalog")


def test_reference_builtin_naming_alias(te, spark):
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("ref_alias_t")
    assert (
        te.sql(
            "SELECT x FROM default_catalog.default_database.ref_alias_t"
        ).collect()[0].x
        == 1
    )


def test_identifier_rewrite_is_literal_safe(te, spark, tmp_path):
    _mk_catalog(te)
    te.sql("USE CATALOG memcat")
    te.sql(
        f"""
        CREATE TABLE lit (v STRING) WITH (
            'connector' = 'filesystem',
            'path' = '{tmp_path}/lit',
            'format' = 'parquet'
        )
        """
    )
    te.sql("INSERT INTO lit SELECT 'memcat.db1.lit'")
    row = te.sql("SELECT v, 'lit' AS tag FROM lit").collect()[0]
    # the literal must come back untouched by the rewrite
    assert row.v == "memcat.db1.lit" and row.tag == "lit"
    te.sql("USE CATALOG spark_catalog")


def test_drop_guards(te):
    _mk_catalog(te)
    te.sql("USE CATALOG memcat")
    with pytest.raises(CatalogError, match="current catalog"):
        te.sql("DROP CATALOG memcat")
    te.sql("USE CATALOG spark_catalog")
    with pytest.raises(CatalogError, match="built-in"):
        te.sql("DROP CATALOG spark_catalog")


def test_show_catalogs_like_and_show_create(te):
    _mk_catalog(te, "likecat")
    assert [r[0] for r in te.sql("SHOW CATALOGS LIKE 'like%'").collect()] == [
        "likecat"
    ]
    assert "likecat" not in [
        r[0] for r in te.sql("SHOW CATALOGS NOT LIKE 'like%'").collect()
    ]
    assert [r[0] for r in te.sql("SHOW CATALOGS ILIKE 'LIKE%'").collect()] == [
        "likecat"
    ]
    ddl = te.sql("SHOW CREATE CATALOG likecat").collect()[0][0]
    assert "CREATE CATALOG `likecat`" in ddl
    assert "'type' = 'generic_in_memory'" in ddl
    assert "'default-database' = 'db1'" in ddl


def test_show_databases_from_and_like(te, spark):
    _mk_catalog(te, "dbcat")
    assert [r[0] for r in te.sql("SHOW DATABASES FROM dbcat").collect()] == [
        "db1"
    ]
    assert "default" in [
        r[0] for r in te.sql("SHOW DATABASES LIKE 'def%'").collect()
    ]
    with pytest.raises(CatalogError, match="does not exist"):
        te.sql("SHOW DATABASES FROM no_such_cat")


def test_show_tables_from_catalog_qualified(te, tmp_path):
    _mk_catalog(te, "qcat")
    te.sql(
        f"CREATE TABLE qcat.db1.qt (k BIGINT) WITH ('connector' = "
        f"'filesystem', 'path' = '{tmp_path}/qt', 'format' = 'parquet')"
    )
    # from the built-in catalog, fully qualified
    assert [
        r[0] for r in te.sql("SHOW TABLES FROM qcat.db1").collect()
    ] == ["qt"]
    assert [
        r[0]
        for r in te.sql("SHOW TABLES FROM qcat.db1 LIKE 'q%'").collect()
    ] == ["qt"]
    # unqualified FROM still lists the built-in catalog's tables
    assert "qt" not in [r[0] for r in te.sql("SHOW TABLES").collect()]


def test_ctas_into_secondary_catalog(te, spark, tmp_path):
    """r7: CTAS with a catalog-qualified target registers the table in
    the secondary catalog."""
    _mk_catalog(te, "ctascat")
    te.sql(
        f"CREATE TABLE ctascat.db1.summary WITH ('connector' = "
        f"'filesystem', 'path' = '{tmp_path}/ctas_sum', 'format' = "
        "'parquet') AS SELECT 1 AS k, 'a' AS v"
    )
    assert (
        te.sql("SELECT k, v FROM ctascat.db1.summary").collect()[0].k == 1
    )
    te.sql("USE CATALOG ctascat")
    assert "summary" in [r[0] for r in te.sql("SHOW TABLES").collect()]
    # unqualified resolution inside the catalog
    assert te.sql("SELECT v FROM summary").collect()[0].v == "a"
    te.sql("USE CATALOG spark_catalog")


def test_column_alias_does_not_shadow_table_rewrite(te, spark):
    """r9 (r8 ADVICE): a COLUMN alias (SELECT ... AS name) or CAST(x AS
    INT) sharing a registered table's name must NOT suppress the
    FROM-position catalog rewrite — only names that can actually shadow
    a table reference bind: CTEs and derived-table aliases."""
    _mk_catalog(te)
    te.sql("USE CATALOG memcat")
    spark.range(3).createOrReplaceTempView("__shadow_src")
    spark.sql("DROP TABLE IF EXISTS shadowtbl")
    te.sql("CREATE TABLE shadowtbl AS SELECT id AS o_id FROM __shadow_src")
    try:
        # column alias "shadowtbl" + CAST AS must not unbind the table
        got = te.sql(
            "SELECT CAST(COUNT(*) AS INT) AS shadowtbl FROM shadowtbl"
        ).collect()
        assert got[0][0] == 3
        # a DERIVED-TABLE alias sharing the name DOES shadow (stays local)
        got2 = te.sql(
            "SELECT COUNT(*) FROM (SELECT 1 AS x UNION ALL SELECT 2) "
            "AS shadowtbl"
        ).collect()
        assert got2[0][0] == 2
        # r9 ADVICE: a FUNCTION-call close followed by AS binds nothing —
        # the matching-paren scan sees SUM(...)/CAST(...) wrap an
        # expression, not a query, so the FROM rewrite still fires
        got3 = te.sql(
            "SELECT SUM(CAST(o_id AS INT)) AS shadowtbl FROM shadowtbl"
        ).collect()
        assert got3[0][0] == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS shadowtbl")
        te.sql("USE CATALOG spark_catalog")
