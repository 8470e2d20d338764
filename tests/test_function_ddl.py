"""Function DDL — reference SqlCreateFunction / SqlDropFunction /
SqlAlterFunction (flink-sql-parser parserImpls.ftl; CatalogFunction /
CreateTempSystemFunctionOperation in flink-table)."""

from __future__ import annotations

import os
import sys
import textwrap

import pytest

from apache_flink_spark.environment import TableEnvironment
from apache_flink_spark.function_ddl import FunctionDdlError


@pytest.fixture()
def te(spark):
    # a fresh session: the functions a test creates go with it
    return TableEnvironment(spark=spark.newSession())


@pytest.fixture()
def udf_module(tmp_path):
    """A throwaway importable module exposing @udf-wrapped and plain
    functions — the DDL identifier's import target."""
    mod = tmp_path / "fddl_mod.py"
    mod.write_text(
        textwrap.dedent(
            """
            from pyspark.sql.functions import udf
            from pyspark.sql.types import LongType, StringType

            @udf(returnType=LongType())
            def triple(x):
                return None if x is None else 3 * x

            @udf(returnType=StringType())
            def shout(s):
                return None if s is None else s.upper()

            def bare(x):
                return x
            """
        )
    )
    sys.path.insert(0, str(tmp_path))
    try:
        yield "fddl_mod"
    finally:
        sys.path.remove(str(tmp_path))
        sys.modules.pop("fddl_mod", None)


def test_create_python_function_and_use(te, udf_module):
    te.sql(
        f"CREATE TEMPORARY FUNCTION f_triple AS '{udf_module}.triple' "
        "LANGUAGE PYTHON"
    )
    got = te.sql("SELECT f_triple(14) AS v").collect()[0].v
    assert got == 42
    # listed among user functions (SHOW USER FUNCTIONS — catalog_sql)
    user = [r[0] for r in te.sql("SHOW USER FUNCTIONS").collect()]
    assert "f_triple" in user


def test_if_not_exists_and_duplicate(te, udf_module):
    te.sql(
        f"CREATE FUNCTION f_dup AS '{udf_module}.triple' LANGUAGE PYTHON"
    )
    with pytest.raises(FunctionDdlError, match="already exists"):
        te.sql(
            f"CREATE FUNCTION f_dup AS '{udf_module}.shout' "
            "LANGUAGE PYTHON"
        )
    te.sql(
        f"CREATE FUNCTION IF NOT EXISTS f_dup AS '{udf_module}.shout' "
        "LANGUAGE PYTHON"
    )
    # the original definition survived the IF NOT EXISTS no-op
    assert te.sql("SELECT f_dup(2) AS v").collect()[0].v == 6


def test_alter_repoints_definition(te, udf_module):
    te.sql(
        f"CREATE FUNCTION f_alt AS '{udf_module}.triple' LANGUAGE PYTHON"
    )
    te.sql(
        f"ALTER FUNCTION f_alt AS '{udf_module}.shout' LANGUAGE PYTHON"
    )
    assert te.sql("SELECT f_alt('ab') AS v").collect()[0].v == "AB"
    with pytest.raises(FunctionDdlError, match="does not exist"):
        te.sql(
            f"ALTER FUNCTION f_missing AS '{udf_module}.shout' "
            "LANGUAGE PYTHON"
        )
    te.sql(
        f"ALTER FUNCTION IF EXISTS f_missing AS '{udf_module}.shout' "
        "LANGUAGE PYTHON"
    )  # no-op, OK


def test_drop_function(te, udf_module):
    te.sql(
        f"CREATE FUNCTION f_gone AS '{udf_module}.triple' LANGUAGE PYTHON"
    )
    assert te.sql("SELECT f_gone(1) AS v").collect()[0].v == 3
    te.sql("DROP FUNCTION f_gone")
    with pytest.raises(Exception):
        te.sql("SELECT f_gone(1) AS v").collect()
    te.sql("DROP FUNCTION IF EXISTS f_gone")  # no-op
    user = [r[0] for r in te.sql("SHOW USER FUNCTIONS").collect()]
    assert "f_gone" not in user


def test_loud_errors(te, udf_module):
    with pytest.raises(FunctionDdlError, match="not a udf"):
        te.sql(
            f"CREATE FUNCTION f_bare AS '{udf_module}.bare' "
            "LANGUAGE PYTHON"
        )
    with pytest.raises(FunctionDdlError, match="cannot import"):
        te.sql(
            "CREATE FUNCTION f_noimp AS 'no.such.module.fn' "
            "LANGUAGE PYTHON"
        )
    with pytest.raises(FunctionDdlError, match="no attribute"):
        te.sql(
            f"CREATE FUNCTION f_noattr AS '{udf_module}.nope' "
            "LANGUAGE PYTHON"
        )
    with pytest.raises(FunctionDdlError, match="dotted"):
        te.sql("CREATE FUNCTION f_flat AS 'flat' LANGUAGE PYTHON")
    # JAVA default: a missing class errors loudly at registration
    with pytest.raises(FunctionDdlError, match="JVM function class"):
        te.sql("CREATE FUNCTION f_jvm AS 'com.example.NoSuchUdf'")
