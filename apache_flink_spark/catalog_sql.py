"""Catalog / database / module introspection statements.

Reference parity: the flink-sql-parser statement classes a SQL-client or
gateway user runs to look around (Parser.tdd statementParserMethods;
operations in flink-table-planner ``ShowTablesOperation`` et al.):

  - ``SHOW CATALOGS`` / ``SHOW CURRENT CATALOG`` / ``USE CATALOG c``
  - ``SHOW DATABASES`` / ``SHOW CURRENT DATABASE`` / ``USE db`` /
    ``CREATE DATABASE`` / ``DROP DATABASE`` (Spark passthrough for the
    last three — identical syntax)
  - ``SHOW TABLES [FROM|IN db] [[NOT] LIKE 'p']``
  - ``SHOW VIEWS``
  - ``SHOW [USER] FUNCTIONS [LIKE 'p']``
  - ``SHOW JARS``
  - ``SHOW [FULL] MODULES`` / ``LOAD MODULE m`` / ``UNLOAD MODULE m`` /
    ``USE MODULES a[, b...]``  (ModuleManager semantics)
  - ``ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c,... |
    FOR ALL COLUMNS]``  (SqlAnalyzeTable)

Execution model. Spark's session catalog IS the catalog here, so the
introspection statements project Spark's catalog APIs into the
reference's single-column output shapes (``catalog name``, ``database
name``, ``table name``, ...). Catalog creation is intentionally absent:
this engine is single-catalog (Spark's ``spark_catalog``), and
``CREATE CATALOG`` errors loudly rather than pretending.

Modules: the reference's ModuleManager resolves functions through an
ordered list of loaded-and-used modules. All built-in functions here
live in one engine (``core``), so the manager tracks names/order/use
flags with real semantics (duplicate load errors, unload-then-reload,
USE MODULES reordering, SHOW FULL MODULES flags) but only ``core`` is
loadable — anything else errors loudly instead of silently resolving
to the same function set.

ANALYZE TABLE computes real distributed statistics (count + per-column
ndv / null count / min / max in ONE aggregation pass — no per-column
jobs) and returns them as rows; the reference writes them into catalog
stats, which Spark's temp-view-backed DDL tables don't have.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from apache_flink_spark.session import session_state

__all__ = ["try_handle_catalog_statement", "CatalogSqlError"]


class CatalogSqlError(ValueError):
    pass


_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?VIEW\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?`?(?P<name>\w+)`?\b",
    re.I,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+(?:TEMPORARY\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?"
    r"`?(?P<name>\w+)`?\s*$",
    re.I,
)
_SHOW_CREATE_VIEW_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+VIEW\s+`?(?P<name>\w+)`?\s*$", re.I
)

#: ALTER VIEW family — reference SqlAlterViewRename / SqlAlterViewAs /
#: SqlAlterViewProperties (flink-sql-parser .../ddl/SqlAlterView*.java)
_ALTER_VIEW_RENAME_RE = re.compile(
    r"^\s*ALTER\s+VIEW\s+`?(?P<name>\w+)`?\s+RENAME\s+TO\s+"
    r"`?(?P<to>\w+)`?\s*$",
    re.I,
)
_ALTER_VIEW_AS_RE = re.compile(
    r"^\s*ALTER\s+VIEW\s+`?(?P<name>\w+)`?\s+AS\s+(?P<query>SELECT\b.*)$",
    re.I | re.S,
)
_ALTER_VIEW_PROPS_RE = re.compile(
    r"^\s*ALTER\s+VIEW\s+`?(?P<name>\w+)`?\s+SET\s*\((?P<opts>.*)\)\s*$",
    re.I | re.S,
)

_REMOVE_JAR_RE = re.compile(
    r"^\s*REMOVE\s+JAR\s+'(?P<path>[^']+)'\s*$", re.I
)
_DESC_FUNCTION_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+FUNCTION\s+(?P<ext>EXTENDED\s+)?"
    r"`?(?P<name>[\w.]+)`?\s*$",
    re.I,
)


def record_view_statement(spark: SparkSession, sql: str) -> None:
    """Called by the facade once Spark ran a CREATE/DROP VIEW, so SHOW
    CREATE VIEW can replay the definition (SqlShowCreateView /
    ShowCreateUtil.buildShowCreateViewRow)."""
    view_ddl = session_state(spark).view_ddl
    m = _CREATE_VIEW_RE.match(sql)
    if m:
        view_ddl[m.group("name").lower()] = sql.strip()
        return
    m = _DROP_VIEW_RE.match(sql)
    if m:
        view_ddl.pop(m.group("name").lower(), None)


_SHOW_DBS_RE = re.compile(r"^\s*SHOW\s+DATABASES\s*$", re.I)
_SHOW_CUR_DB_RE = re.compile(r"^\s*SHOW\s+CURRENT\s+DATABASE\s*$", re.I)
_SHOW_TABLES_RE = re.compile(
    r"^\s*SHOW\s+TABLES"
    r"(?:\s+(?:FROM|IN)\s+(?:`?(?P<cat>\w+)`?\.)?`?(?P<db>\w+)`?)?"
    r"(?:\s+(?P<not>NOT\s+)?(?P<op>LIKE|ILIKE)\s+'(?P<like>[^']*)')?\s*$",
    re.I,
)
_SHOW_VIEWS_RE = re.compile(
    r"^\s*SHOW\s+VIEWS(?:\s+(?:FROM|IN)\s+`?(?P<db>\w+)`?)?"
    r"(?:\s+(?P<not>NOT\s+)?LIKE\s+'(?P<like>[^']*)')?\s*$",
    re.I,
)
_SHOW_FUNCS_RE = re.compile(
    r"^\s*SHOW\s+(?P<user>USER\s+)?FUNCTIONS"
    r"(?:\s+(?P<not>NOT\s+)?LIKE\s+'(?P<like>[^']*)')?\s*$",
    re.I,
)
_SHOW_JARS_RE = re.compile(r"^\s*SHOW\s+JARS\s*$", re.I)
_SHOW_MODULES_RE = re.compile(
    r"^\s*SHOW\s+(?P<full>FULL\s+)?MODULES\s*$", re.I
)
_LOAD_MODULE_RE = re.compile(
    r"^\s*LOAD\s+MODULE\s+`?(?P<name>\w+)`?(?:\s+WITH\s*\(.*\))?\s*$",
    re.I | re.S,
)
_UNLOAD_MODULE_RE = re.compile(
    r"^\s*UNLOAD\s+MODULE\s+`?(?P<name>\w+)`?\s*$", re.I
)
_USE_MODULES_RE = re.compile(
    r"^\s*USE\s+MODULES\s+(?P<names>[\w`\s,]+)\s*$", re.I
)
_ANALYZE_RE = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+`?(?P<name>\w+)`?\s+COMPUTE\s+STATISTICS"
    r"(?:\s+FOR\s+(?:(?P<all>ALL\s+COLUMNS)|COLUMNS\s+(?P<cols>[\w`\s,]+)))?"
    r"\s*$",
    re.I,
)


def _one_col(spark: SparkSession, col: str, values) -> "DataFrame":
    return spark.createDataFrame(
        [(v,) for v in sorted(values)], f"`{col}` string"
    )


def _sql_like(name: str, pattern: str | None, negate: bool) -> bool:
    """Flink's SHOW ... LIKE uses SQL LIKE syntax: % and _ are the ONLY
    wildcards — every other character is literal (a glob translation
    would let '*'/'['/'?' in the pattern leak as wildcards, r6 review)."""
    if pattern is None:
        return True
    rx = re.escape(pattern).replace("%", ".*").replace("_", ".")
    hit = re.fullmatch(rx, name) is not None
    return not hit if negate else hit


def try_handle_catalog_statement(spark: SparkSession, sql: str):
    """Route one statement; returns a DataFrame or None when the text is
    not a catalog/module introspection statement (the caller falls
    through to Spark)."""
    from apache_flink_spark.catalogs import try_handle_catalog_ddl

    handled = try_handle_catalog_ddl(spark, sql)
    if handled is not None:
        return handled
    st = session_state(spark)

    m = _SHOW_CREATE_VIEW_RE.match(sql)
    if m:
        name = m.group("name").lower()
        if name not in st.view_ddl:
            raise CatalogSqlError(
                f"no recorded DDL for view {m.group('name')!r} — only "
                "views created via SQL through this session's facade "
                "carry their definition (DataFrame-registered temp views "
                "have no SQL to show)"
            )
        return spark.createDataFrame(
            [(st.view_ddl[name],)], "result string"
        )

    if _SHOW_DBS_RE.match(sql):
        return _one_col(
            spark,
            "database name",
            [d.name for d in spark.catalog.listDatabases()],
        )

    if _SHOW_CUR_DB_RE.match(sql):
        return _one_col(
            spark,
            "current database name",
            [spark.catalog.currentDatabase()],
        )

    m = _SHOW_TABLES_RE.match(sql)
    if m:
        cat = m.group("cat")
        if cat is not None and cat not in (
            "spark_catalog", "default_catalog",
        ):
            raise CatalogSqlError(f"catalog {cat!r} does not exist")
        tables = spark.catalog.listTables(m.group("db"))
        neg = bool(m.group("not"))
        fold = (m.group("op") or "").upper() == "ILIKE"
        pat = m.group("like")
        return _one_col(
            spark,
            "table name",
            [
                t.name
                for t in tables
                if _sql_like(
                    t.name.lower() if fold else t.name,
                    pat.lower() if fold and pat is not None else pat,
                    neg,
                )
            ],
        )

    m = _SHOW_VIEWS_RE.match(sql)
    if m:
        # temp views + catalog views (Flink SHOW VIEWS lists both)
        views = [
            t.name
            for t in spark.catalog.listTables(m.group("db"))
            if (t.tableType or "").upper() in ("TEMPORARY", "VIEW")
            or t.isTemporary
        ]
        neg = bool(m.group("not"))
        views = [v for v in views if _sql_like(v, m.group("like"), neg)]
        return _one_col(spark, "view name", views)

    m = _SHOW_FUNCS_RE.match(sql)
    if m:
        fns = spark.catalog.listFunctions()
        if m.group("user"):
            # SHOW USER FUNCTIONS: only session-registered ones. Spark
            # marks built-ins isTemporary too, so discriminate on the
            # implementing class — built-ins live under catalyst
            fns = [
                f
                for f in fns
                if not (f.className or "").startswith(
                    "org.apache.spark.sql.catalyst."
                )
            ]
        neg = bool(m.group("not"))
        return _one_col(
            spark,
            "function name",
            {
                f.name
                for f in fns
                if _sql_like(f.name, m.group("like"), neg)
            },
        )

    if _SHOW_JARS_RE.match(sql):
        rows = [r[0] for r in spark.sql("LIST JARS").collect()]
        rows = [r for r in rows if r not in st.removed_jars]
        return _one_col(spark, "jars", rows)

    m = _REMOVE_JAR_RE.match(sql)
    if m:
        # SqlRemoveJar (flink-sql-parser .../dql/SqlRemoveJar.java): drop
        # the jar from the session resource list. Accept both the exact
        # LIST JARS entry and the path the user typed for ADD JAR (Spark
        # rewrites it to a spark://... fetch URL in LIST JARS).
        path = m.group("path")
        listed = [r[0] for r in spark.sql("LIST JARS").collect()]
        base = path.rsplit("/", 1)[-1]
        hits = [
            j for j in listed
            if j == path or j.rsplit("/", 1)[-1] == base
        ]
        hits = [j for j in hits if j not in st.removed_jars]
        if not hits:
            raise CatalogSqlError(
                f"jar {path!r} is not in the session resource list "
                "(SHOW JARS lists current ones)"
            )
        st.removed_jars.update(hits)
        return spark.sql("SELECT 'OK' AS result")

    m = _ALTER_VIEW_RENAME_RE.match(sql)
    if m:
        # SqlAlterViewRename: TEMPORARY views are facade-handled (Spark's
        # ALTER VIEW cannot see them); catalog views fall through to
        # Spark's native ALTER VIEW ... RENAME TO.
        name, to = m.group("name"), m.group("to")
        try:
            tbl = spark.catalog.getTable(name)
        except Exception:
            raise CatalogSqlError(f"view {name!r} does not exist")
        if not tbl.isTemporary:
            if (tbl.tableType or "").upper() != "VIEW":
                raise CatalogSqlError(
                    f"{name!r} is a table, not a view — use ALTER TABLE "
                    "... RENAME TO (reference SqlAlterViewRename "
                    "validates the object kind too)"
                )
            return None  # Spark handles catalog views natively
        spark.table(name).createOrReplaceTempView(to)
        spark.catalog.dropTempView(name)
        if name.lower() in st.view_ddl:
            # keep SHOW CREATE VIEW working under the new name
            ddl = st.view_ddl.pop(name.lower())
            st.view_ddl[to.lower()] = re.sub(
                rf"\b{re.escape(name)}\b", to, ddl, count=1
            )
        if name.lower() in st.view_props:
            st.view_props[to.lower()] = st.view_props.pop(name.lower())
        return spark.sql("SELECT 'OK' AS result")

    m = _ALTER_VIEW_AS_RE.match(sql)
    if m:
        name = m.group("name")
        try:
            tbl = spark.catalog.getTable(name)
        except Exception:
            raise CatalogSqlError(f"view {name!r} does not exist")
        if not tbl.isTemporary:
            return None  # Spark's native ALTER VIEW ... AS
        spark.sql(m.group("query")).createOrReplaceTempView(name)
        st.view_ddl[name.lower()] = (
            f"CREATE TEMPORARY VIEW {name} AS {m.group('query').strip()}"
        )
        return spark.sql("SELECT 'OK' AS result")

    m = _ALTER_VIEW_PROPS_RE.match(sql)
    if m:
        # SqlAlterViewProperties (Flink's SET ('k'='v') spelling; Spark's
        # native spelling is SET TBLPROPERTIES): temp views keep the
        # properties facade-side, catalog views get them translated.
        name = m.group("name")
        try:
            tbl = spark.catalog.getTable(name)
        except Exception:
            raise CatalogSqlError(f"view {name!r} does not exist")
        props = dict(
            re.findall(r"'([^']*)'\s*=\s*'([^']*)'", m.group("opts"))
        )
        if not tbl.isTemporary:
            kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
            spark.sql(f"ALTER VIEW {name} SET TBLPROPERTIES ({kv})")
            return spark.sql("SELECT 'OK' AS result")
        st.view_props.setdefault(name.lower(), {}).update(props)
        return spark.sql("SELECT 'OK' AS result")

    m = _DESC_FUNCTION_RE.match(sql)
    if m:
        return _describe_function(
            spark, m.group("name"), bool(m.group("ext"))
        )

    m = _SHOW_MODULES_RE.match(sql)
    if m:
        if m.group("full"):
            return spark.createDataFrame(
                [(n, u) for n, u in st.modules.items()],
                "`module name` string, used boolean",
            )
        return spark.createDataFrame(
            [(n,) for n, u in st.modules.items() if u],
            "`module name` string",
        )

    m = _LOAD_MODULE_RE.match(sql)
    if m:
        name = m.group("name").lower()
        if name in st.modules:
            raise CatalogSqlError(
                f"module {name!r} is already loaded (reference "
                "ModuleManager.loadModule rejects duplicates)"
            )
        if name != "core":
            raise CatalogSqlError(
                f"module {name!r} is not available — every built-in "
                "function lives in the 'core' module here; loading other "
                "modules would silently resolve to the same function set"
            )
        st.modules[name] = True
        return spark.sql("SELECT 'OK' AS result")

    m = _UNLOAD_MODULE_RE.match(sql)
    if m:
        name = m.group("name").lower()
        if name not in st.modules:
            raise CatalogSqlError(f"module {name!r} is not loaded")
        del st.modules[name]
        return spark.sql("SELECT 'OK' AS result")

    m = _USE_MODULES_RE.match(sql)
    if m:
        names = [
            n.strip().strip("`").lower()
            for n in m.group("names").split(",")
            if n.strip()
        ]
        if not names:
            raise CatalogSqlError(
                "USE MODULES needs at least one module name — a bare "
                "separator would silently un-use every loaded module"
            )
        missing = [n for n in names if n not in st.modules]
        if missing:
            raise CatalogSqlError(
                f"USE MODULES: {missing} not loaded — loaded: "
                f"{list(st.modules)}"
            )
        if len(set(names)) != len(names):
            raise CatalogSqlError("USE MODULES: duplicate module name")
        # used modules take the GIVEN order; unlisted loaded ones unuse
        reordered = {n: True for n in names}
        for n, _u in st.modules.items():
            if n not in reordered:
                reordered[n] = False
        st.modules = reordered
        return spark.sql("SELECT 'OK' AS result")

    m = _ANALYZE_RE.match(sql)
    if m:
        return _analyze_table(
            spark,
            m.group("name"),
            all_cols=bool(m.group("all")),
            cols=[
                c.strip().strip("`")
                for c in (m.group("cols") or "").split(",")
                if c.strip()
            ],
        )

    return None


def _describe_function(spark, name: str, extended: bool):
    """DESCRIBE FUNCTION [EXTENDED] — reference DescribeFunctionOperation
    (flink-table-api-java .../operations/DescribeFunctionOperation.java):
    ``info name``/``info value`` rows — is system function, is temporary,
    then class name / function language / resource uris for catalog
    functions; EXTENDED adds kind and determinism."""
    fns = {f.name.lower(): f for f in spark.catalog.listFunctions()}
    f = fns.get(name.lower())
    if f is None:
        raise CatalogSqlError(
            f"Function with the identifier '{name}' doesn't exist."
        )
    is_system = (f.className or "").startswith(
        "org.apache.spark.sql.catalyst."
    )
    rows = [
        ("is system function", str(is_system).lower()),
        ("is temporary", str(bool(f.isTemporary)).lower()),
    ]
    ddl_entry = session_state(spark).functions.get(name.lower())
    if not is_system:
        rows.append(("class name", ddl_entry[0] if ddl_entry
                     else (f.className or "")))
        rows.append((
            "function language",
            ddl_entry[1].upper() if ddl_entry else "JVM",
        ))
        rows.append(("resource uris", "[]"))
    if extended:
        rows.append(("kind", "SCALAR"))
        rows.append(("is deterministic", "true"))
    return spark.createDataFrame(
        rows, "`info name` string, `info value` string"
    )


def _analyze_table(spark, name: str, all_cols: bool, cols: list[str]):
    """SqlAnalyzeTable: one distributed aggregation pass computing row
    count and (optionally) per-column ndv / null count / min / max.
    Returned as rows — observable, unlike catalog-internal stats.

    Scope: ONLY temp-view-backed tables (the engine's DDL tables are
    temp views), where Spark's own ANALYZE cannot run. A Spark catalog
    table falls through to native ANALYZE, which PERSISTS stats for the
    cost-based optimizer — intercepting it would silently drop that
    side effect (r6 review)."""
    try:
        tbl = spark.catalog.getTable(name)
    except Exception:
        return None  # unknown name: let Spark produce its native error
    if not tbl.isTemporary:
        return None
    df = spark.table(name)
    if all_cols:
        cols = list(df.columns)
    bad = [c for c in cols if c not in df.columns]
    if bad:
        raise CatalogSqlError(
            f"ANALYZE TABLE {name}: column(s) {bad} do not exist "
            f"(table columns: {df.columns})"
        )
    aggs = [F.count(F.lit(1)).alias("__rc")]
    for i, c in enumerate(cols):
        aggs += [
            F.approx_count_distinct(c).alias(f"__ndv_{i}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"__nn_{i}"
            ),
            F.min(c).cast("string").alias(f"__mn_{i}"),
            F.max(c).cast("string").alias(f"__mx_{i}"),
        ]
    row = df.agg(*aggs).collect()[0]
    out = [("", "row_count", str(row["__rc"]))]
    for i, c in enumerate(cols):
        out += [
            (c, "ndv", str(row[f"__ndv_{i}"] or 0)),
            # SUM over zero rows is SQL NULL, not 0 (r6 review)
            (c, "null_count", str(row[f"__nn_{i}"] or 0)),
            (c, "min", "" if row[f"__mn_{i}"] is None else row[f"__mn_{i}"]),
            (c, "max", "" if row[f"__mx_{i}"] is None else row[f"__mx_{i}"]),
        ]
    return spark.createDataFrame(
        out, "`column` string, stat string, value string"
    )
