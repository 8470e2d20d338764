"""Row-level DML — DELETE / UPDATE / TRUNCATE TABLE on DDL-declared
filesystem tables.

Reference parity: the reference exposes row-level modification as
connector abilities — ``SupportsRowLevelDelete`` / ``SupportsRowLevelUpdate``
(flink-table-common .../connector/sink/abilities/) driven by DELETE/UPDATE
statements, and ``SqlTruncateTable`` (flink-sql-parser .../dml/). In the
reference, a connector opts in (lake formats do; the built-in filesystem
connector does NOT) — here the engine's filesystem DDL tables implement
the ability the way lake-format connectors do: **copy-on-write**. One
distributed read → filter/rewrite → staging write → atomic directory
swap → view re-registration. No row ever routes through the driver, so
the rewrite scales with the cluster exactly like the lake connectors'
COW path; the divergence from the reference's (unimplemented) filesystem
connector is deliberate and documented here.

Semantics: DELETE removes rows where the predicate IS TRUE (NULL keeps
the row, per SQL); UPDATE applies each assignment as CASE WHEN pred THEN
new ELSE old END (non-matching rows byte-stable); TRUNCATE empties the
table. Each returns ``rows_affected``.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import functions as F

from apache_flink_spark.session import session_state
from apache_flink_spark.statement import split_top_level

__all__ = ["try_handle_row_level_statement", "RowLevelError"]


class RowLevelError(ValueError):
    pass


_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+`?(?P<name>\w+)`?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*$",
    re.I | re.S,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+`?(?P<name>\w+)`?\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*$",
    re.I | re.S,
)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+`?(?P<name>\w+)`?\s*$", re.I
)


def _split_assignments(sets: str) -> list[tuple[str, str]]:
    """Split ``a = expr, b = expr`` on top-level commas (string-literal-
    and paren-safe), then each on its first top-level ``=``."""
    out = []
    for p in split_top_level(sets):
        m = re.match(r"^\s*`?(\w+)`?\s*=\s*(.+?)\s*$", p, re.S)
        if not m:
            raise RowLevelError(f"unparseable SET assignment: {p.strip()!r}")
        out.append((m.group(1), m.group(2)))
    return out


def _table_spec(spark, name: str):
    """Spec for a filesystem DDL table, or None when ``name`` is not a
    DDL-declared table at all — the statement then falls through to
    spark.sql, which natively handles DELETE/UPDATE/TRUNCATE on its own
    managed tables (r6 ADVICE: intercepting those broke valid Spark SQL)."""
    spec = session_state(spark).tables.get(name)
    if spec is None:
        return None
    if spec[0] == "datagen":
        raise RowLevelError(
            f"row-level DML needs a filesystem DDL table; {name!r} is not "
            "one (reference: the connector must implement "
            "SupportsRowLevelDelete/Update — datagen sources do not)"
        )
    fmt, path, schema_ddl, _opts = spec
    return fmt, path, schema_ddl


def _rewrite(spark, name: str, df, fmt: str, path: str, schema_ddl: str):
    """Copy-on-write: staging write -> atomic swap -> view refresh. The
    write/read honor the table's DECLARED connector options (csv
    delimiter/header) via ddl.fs_writer/refresh_table_view — a
    defaults-only rewrite silently re-encodes csv (r6 review finding)."""
    from apache_flink_spark.ddl import fs_writer, refresh_table_view

    staging = path.rstrip("/") + ".__rowlevel__"
    backup = path.rstrip("/") + ".__prerowlevel__"
    shutil.rmtree(staging, ignore_errors=True)
    writer, _fmt, _path = fs_writer(spark, df, name)
    writer.mode("overwrite").save(staging)
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    refresh_table_view(spark, name)


def try_handle_row_level_statement(spark, sql: str):
    """Route DELETE/UPDATE/TRUNCATE on DDL tables; returns a one-row
    ``rows_affected`` DataFrame or None to fall through."""
    m = _TRUNCATE_RE.match(sql)
    if m:
        name = m.group("name")
        spec = _table_spec(spark, name)
        if spec is None:
            return None
        fmt, path, schema_ddl = spec
        from apache_flink_spark.ddl import refresh_table_view

        n = spark.table(name).count()
        shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        refresh_table_view(spark, name)
        return spark.createDataFrame([(n,)], "rows_affected bigint")

    m = _DELETE_RE.match(sql)
    if m:
        name = m.group("name")
        spec = _table_spec(spark, name)
        if spec is None:
            return None
        fmt, path, schema_ddl = spec
        df = spark.table(name)
        if m.group("where") is None:
            kept = df.limit(0)
            n_del = df.count()
        else:
            pred = F.expr(m.group("where")).cast("boolean")
            # DELETE removes rows where pred IS TRUE; NULL keeps the row
            kept = df.filter(~F.coalesce(pred, F.lit(False)))
            n_del = df.count() - kept.count()
        _rewrite(spark, name, kept, fmt, path, schema_ddl)
        return spark.createDataFrame([(n_del,)], "rows_affected bigint")

    m = _UPDATE_RE.match(sql)
    if m:
        name = m.group("name")
        spec = _table_spec(spark, name)
        if spec is None:
            return None
        fmt, path, schema_ddl = spec
        df = spark.table(name)
        assigns = _split_assignments(m.group("sets"))
        bad = [c for c, _ in assigns if c not in df.columns]
        if bad:
            raise RowLevelError(
                f"UPDATE {name}: unknown column(s) {bad} "
                f"(columns: {df.columns})"
            )
        if m.group("where") is None:
            pred = F.lit(True)
            n_upd = df.count()
        else:
            pred = F.coalesce(
                F.expr(m.group("where")).cast("boolean"), F.lit(False)
            )
            n_upd = df.filter(pred).count()
        # evaluate every RHS against the PRE-update row image (SQL
        # standard: all assignments see the old values)
        new_cols = {
            c: F.when(
                pred, F.expr(expr).cast(dict(df.dtypes)[c])
            ).otherwise(F.col(c))
            for c, expr in assigns
        }
        updated = df.withColumns(new_cols)
        _rewrite(spark, name, updated, fmt, path, schema_ddl)
        return spark.createDataFrame([(n_upd,)], "rows_affected bigint")
    return None
