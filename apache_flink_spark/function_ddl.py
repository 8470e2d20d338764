"""Function DDL: CREATE / DROP / ALTER [TEMPORARY] [SYSTEM] FUNCTION.

Reference parity: flink-sql-parser ``SqlCreateFunction`` /
``SqlDropFunction`` / ``SqlAlterFunction`` (parserImpls.ftl), executed by
``CreateTempSystemFunctionOperation`` / ``CatalogFunction`` in
flink-table — the DDL that points a SQL function name at an
implementation identifier:

    CREATE [TEMPORARY [SYSTEM]] FUNCTION [IF NOT EXISTS] f
        AS 'pkg.module.obj' [LANGUAGE JAVA|SCALA|PYTHON]
        [USING JAR 'path' [, JAR 'path']...]
    DROP [TEMPORARY [SYSTEM]] FUNCTION [IF EXISTS] f
    ALTER [TEMPORARY [SYSTEM]] FUNCTION [IF EXISTS] f
        AS 'pkg.module.obj' [LANGUAGE ...]

Execution model:

  - ``LANGUAGE PYTHON``: the identifier is a dotted path to a
    ``pyspark.sql.functions.udf`` / ``pandas_udf``-wrapped object — the
    exact analog of PyFlink's DDL, where the identifier references a
    ``@udf``-decorated object (pyflink CREATE FUNCTION docs). A plain
    unwrapped callable errors loudly: the wrapper carries the return
    type, without which registration would silently default types.
  - ``LANGUAGE JAVA``/``SCALA`` (the reference default): routed to
    ``spark.udf.registerJavaFunction`` — the class must implement
    Spark's UDF interface and be on the classpath (``USING JAR`` runs
    ``ADD JAR`` first); a missing class errors at registration, loudly.
  - TEMPORARY vs catalog-persistent: every function here is
    session-scoped (Spark's FunctionRegistry), the same lifetime as the
    reference's TEMPORARY flavor. Catalog persistence of function
    definitions is documented divergence — the catalog store persists
    tables and models, not code references.

DROP unregisters via Spark's ``DROP TEMPORARY FUNCTION``; ALTER is
re-registration under the same name (latest definition wins, as in the
reference's ``AlterFunctionOperation``).
"""

from __future__ import annotations

import importlib
import re

from pyspark.sql import SparkSession

from apache_flink_spark.session import session_state

__all__ = ["try_handle_function_statement", "FunctionDdlError"]


class FunctionDdlError(ValueError):
    pass


_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?`?(?P<name>\w+)`?\s+"
    r"AS\s+'(?P<ident>[^']+)'"
    r"(?:\s+LANGUAGE\s+(?P<lang>JAVA|SCALA|PYTHON))?"
    r"(?P<using>\s+USING\s+JAR\s+'[^']+'(?:\s*,\s*JAR\s+'[^']+')*)?\s*$",
    re.I,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
    r"(?P<ie>IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*$",
    re.I,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
    r"(?P<ie>IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s+"
    r"AS\s+'(?P<ident>[^']+)'"
    r"(?:\s+LANGUAGE\s+(?P<lang>JAVA|SCALA|PYTHON))?\s*$",
    re.I,
)


def _ok(spark: SparkSession):
    return spark.sql("SELECT 'OK' AS result")


def _register(spark: SparkSession, name: str, ident: str, lang: str) -> None:
    if lang == "PYTHON":
        if "." not in ident:
            raise FunctionDdlError(
                f"PYTHON function identifier {ident!r} must be a dotted "
                "'module.object' path"
            )
        mod_path, attr = ident.rsplit(".", 1)
        try:
            mod = importlib.import_module(mod_path)
        except ImportError as e:
            raise FunctionDdlError(
                f"cannot import module {mod_path!r} for function "
                f"{name!r}: {e}"
            ) from None
        try:
            obj = getattr(mod, attr)
        except AttributeError:
            raise FunctionDdlError(
                f"module {mod_path!r} has no attribute {attr!r}"
            ) from None
        # the identifier must reference a @udf/@pandas_udf-wrapped object
        # (PyFlink DDL semantics) — the wrapper carries the return type
        if not (hasattr(obj, "returnType") and callable(obj)):
            raise FunctionDdlError(
                f"{ident!r} is not a udf/pandas_udf-wrapped function — "
                "wrap it (the wrapper carries the SQL return type, as "
                "PyFlink's @udf(result_type=...) does)"
            )
        spark.udf.register(name, obj)
    else:  # JAVA / SCALA — the reference default
        try:
            spark.udf.registerJavaFunction(name, ident)
        except Exception as e:
            raise FunctionDdlError(
                f"cannot register JVM function class {ident!r}: {e}"
            ) from None
    session_state(spark).functions[name.lower()] = (ident, lang)


def try_handle_function_statement(spark: SparkSession, sql: str):
    """Route one statement; None when it is not function DDL."""
    functions = session_state(spark).functions
    m = _CREATE_RE.match(sql)
    if m:
        name = m.group("name")
        if name.lower() in functions:
            if m.group("ine"):
                return _ok(spark)
            raise FunctionDdlError(f"function {name!r} already exists")
        for jar in re.findall(r"JAR\s+'([^']+)'", m.group("using") or "", re.I):
            spark.sql(f"ADD JAR '{jar}'")
        _register(
            spark, name, m.group("ident"),
            (m.group("lang") or "JAVA").upper(),
        )
        return _ok(spark)

    m = _DROP_RE.match(sql)
    if m:
        name = m.group("name")
        if name.lower() not in functions:
            if m.group("ie"):
                return _ok(spark)
            return None  # not ours: Spark's own DROP FUNCTION semantics
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS `{name}`")
        del functions[name.lower()]
        return _ok(spark)

    m = _ALTER_RE.match(sql)
    if m:
        name = m.group("name")
        if name.lower() not in functions:
            if m.group("ie"):
                return _ok(spark)
            raise FunctionDdlError(
                f"function {name!r} does not exist — ALTER FUNCTION "
                "re-points an existing definition"
            )
        lang = (m.group("lang") or functions[name.lower()][1]).upper()
        _register(spark, name, m.group("ident"), lang)
        return _ok(spark)

    return None
