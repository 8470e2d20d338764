"""ALTER TABLE + SHOW CREATE TABLE for DDL-declared connector tables.

Reference parity: Flink's ALTER TABLE statement family
(flink-sql-parser ``parserImpls.ftl`` SqlAlterTable; operations applied by
``AlterSchemaConverter`` / ``OperationConverterUtils`` in
flink-table-planner) and ``SqlShowCreateTable`` /
``ShowCreateUtil.buildShowCreateTableRow``:

  - ``ALTER TABLE t RENAME TO t2``           (SqlAlterTableRename)
  - ``ALTER TABLE t SET ('k'='v', ...)``     (SqlAlterTableOptions)
  - ``ALTER TABLE t RESET ('k', ...)``       (SqlAlterTableReset)
  - ``ALTER TABLE t ADD (c TYPE [FIRST|AFTER col], ...)``  (SqlAlterTableAdd)
  - ``ALTER TABLE t DROP (c, ...)``          (SqlAlterTableDropColumn)
  - ``ALTER TABLE t RENAME c TO c2``         (SqlAlterTableRenameColumn)
  - ``ALTER TABLE t MODIFY (c TYPE, ...)``   (SqlAlterTableModify)
  - ``ALTER TABLE t COMPACT``                (SqlAlterTableCompact — the
    filesystem connector's small-file compaction entry)
  - ``SHOW CREATE TABLE t``

Execution model. The reference mutates catalog metadata and lets
connectors interpret it. Here the catalog is the session's DDL tables
(:attr:`~apache_flink_spark.session.SessionState.tables`) and the
storage is real files, so each shape picks the cheapest SAFE strategy:

  - **Metadata-only** (no data movement): RENAME TO, SET/RESET, and —
    for by-NAME formats (parquet/orc/json) — ADD / DROP. Old files simply
    resolve the added column to NULL / stop projecting the dropped one,
    exactly how the reference's filesystem connector behaves after a
    catalog-level schema change.
  - **Copy-on-write rewrite** (distributed read → cast/rename → staging
    dir → atomic swap, the same shape as row_level.py): RENAME COLUMN and
    MODIFY always; ADD / DROP too when the format is positional (csv),
    where a metadata-only change would silently misalign every subsequent
    read. Data never touches the driver.

Every unsupported clause raises :class:`ddl.DdlError` loudly.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from apache_flink_spark.ddl import (
    DdlError,
    _map_type,
    _schema_ddl_cols,
    _split_options,
    fs_reader,
    fs_writer,
    refresh_table_view,
)
from apache_flink_spark.session import session_state
from apache_flink_spark.statement import split_top_level

__all__ = ["try_handle_alter_statement", "show_create_table"]

_BY_NAME_FORMATS = {"parquet", "orc", "json"}

_RENAME_TABLE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s+"
    r"RENAME\s+TO\s+(?P<to>\w+)\s*$",
    re.I,
)
_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+RENAME\s+(?P<col>\w+)\s+"
    r"TO\s+(?P<to>\w+)\s*$",
    re.I,
)
_SET_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+SET\s*\((?P<opts>.*)\)\s*$",
    re.I | re.S,
)
_RESET_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+RESET\s*\((?P<keys>.*)\)\s*$",
    re.I | re.S,
)
_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+"
    r"(?:\((?P<cols>.*)\)|(?P<col>\w+\s+[^,()]+?))\s*$",
    re.I | re.S,
)
_DROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+"
    r"(?:\((?P<cols>[\w\s,]*)\)|(?P<col>\w+))\s*$",
    re.I,
)
_MODIFY_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+MODIFY\s+"
    r"(?:\((?P<cols>.*)\)|(?P<col>\w+\s+[^,()]+?))\s*$",
    re.I | re.S,
)
_COMPACT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+COMPACT\s*$", re.I
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<name>\w+)\s*$", re.I
)
_SHOW_PARTS_RE = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+(?P<name>\w+)"
    r"(?:\s+PARTITION\s*\((?P<spec>[^)]*)\))?\s*$",
    re.I,
)
_ADD_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?PARTITION\s*\((?P<spec>[^)]*)\)\s*$",
    re.I,
)
_DROP_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+"
    r"(?P<ie>IF\s+EXISTS\s+)?PARTITION\s*\((?P<spec>[^)]*)\)\s*$",
    re.I,
)


def _parse_part_spec(
    spark: SparkSession, name: str, spec: str
) -> list[tuple[str, str]]:
    """``k='v', k2=3`` -> ordered (col, value) pairs matching the table's
    declared PARTITIONED BY order (reference partition-spec resolution)."""
    from apache_flink_spark.ddl import part_cols

    declared = part_cols(spark, name)
    if not declared:
        raise DdlError(f"table {name!r} is not partitioned")
    from apache_flink_spark.ddl import parse_kv_spec

    try:
        # STRICT: an empty or value-less spec errors here — a lax parse
        # once let ``DROP PARTITION ()`` resolve to the table root and
        # rmtree the entire table (r6 review finding #1)
        given = parse_kv_spec(spec)
    except ValueError as e:
        raise DdlError(str(e)) from None
    bad = [k for k in given if k not in declared]
    if bad:
        raise DdlError(
            f"partition spec columns {bad} not in PARTITIONED BY {declared}"
        )
    # a PREFIX of the partition-key order is allowed (SHOW PARTITIONS
    # filter / dropping a coarse partition); gaps are not
    out = []
    for c in declared:
        if c in given:
            out.append((c, given[c]))
        else:
            break
    if len(out) != len(given):
        raise DdlError(
            f"partition spec {sorted(given)} must be a prefix of the "
            f"PARTITIONED BY order {declared}"
        )
    return out


def _part_dir(path: str, pairs: list[tuple[str, str]]) -> str:
    return os.path.join(path, *[f"{c}={v}" for c, v in pairs])


def _list_partitions(path: str, declared: list[str]) -> list[str]:
    """Hive-style partition dir specs under ``path``, sorted —
    ``k=v[/k2=v2]`` rows like the reference's SHOW PARTITIONS."""
    out = []

    def walk(d: str, depth: int, prefix: list[str]):
        if depth == len(declared):
            out.append("/".join(prefix))
            return
        key = declared[depth] + "="
        for e in sorted(os.listdir(d)):
            full = os.path.join(d, e)
            if os.path.isdir(full) and e.startswith(key):
                walk(full, depth + 1, prefix + [e])

    if os.path.isdir(path):
        walk(path, 0, [])
    return out


def _fs_spec(spark: SparkSession, name: str):
    """Spec for a filesystem DDL table, or None when ``name`` is not a
    DDL table at all (caller falls through to ``spark.sql`` — Spark
    handles ALTER on its own catalog tables)."""
    spec = session_state(spark).tables.get(name)
    if spec is None:
        return None
    if spec[0] == "datagen":
        raise DdlError(
            f"{name!r} is a datagen source — ALTER applies to filesystem "
            "DDL tables only (reference: datagen has no mutable catalog "
            "schema either)"
        )
    return spec  # (fmt, path, schema_ddl, opts)


def _ok(spark: SparkSession):
    return spark.sql("SELECT 'OK' AS result")


def _set_schema(spark: SparkSession, name: str, cols: list[tuple[str, str]]):
    tables = session_state(spark).tables
    fmt, path, _schema, opts = tables[name]
    tables[name] = (fmt, path, ", ".join(f"{c} {t}" for c, t in cols), opts)


def _cow_rewrite(spark, name: str, select_exprs) -> None:
    """Distributed rewrite of the table files under the CURRENT declared
    schema, projecting ``select_exprs``, then atomic dir swap — the
    row_level.py copy-on-write shape. Callers update the spec BEFORE this
    runs only if the writer schema should be the new one (it reads via the
    pre-change reader passed in select exprs)."""
    fmt, path, _schema, _opts = session_state(spark).tables[name]
    reader, _ = fs_reader(spark, name)
    df = reader.load(path).select(*select_exprs)
    staging = path.rstrip("/") + ".__altering__"
    backup = path.rstrip("/") + ".__prealter__"
    shutil.rmtree(staging, ignore_errors=True)
    writer, _fmt, _p = fs_writer(spark, df, name)
    writer.mode("overwrite").save(staging)
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)


def _parse_typed_cols(body: str) -> list[tuple[str, str, str | None]]:
    """``c TYPE [FIRST | AFTER other], ...`` -> [(name, spark_type, pos)]
    where pos is None | 'FIRST' | an existing column name."""
    out = []
    for part in split_top_level(body):
        part = part.strip()
        if not part:
            continue
        m = re.match(
            r"^(\w+)\s+(.+?)(?:\s+NOT\s+NULL)?"
            r"(?:\s+(?:(FIRST)|AFTER\s+(\w+)))?$",
            part,
            re.I | re.S,
        )
        if not m:
            raise DdlError(f"unsupported ALTER column clause {part!r}")
        pos = "FIRST" if m.group(3) else (m.group(4) or None)
        out.append((m.group(1), _map_type(m.group(2)), pos))
    if not out:
        raise DdlError("ALTER with an empty column list")
    return out


def _insert_at(cols, new, pos):
    """Insert (name, type) honoring FIRST/AFTER x/None(=append)."""
    if pos is None:
        return cols + [new]
    if pos == "FIRST":
        return [new] + cols
    idx = [i for i, (c, _t) in enumerate(cols) if c == pos]
    if not idx:
        raise DdlError(f"AFTER column {pos!r} does not exist")
    return cols[: idx[0] + 1] + [new] + cols[idx[0] + 1 :]


_FLINK_TYPE = {
    "string": "STRING",
    "binary": "BYTES",
    "timestamp": "TIMESTAMP(3)",
    "timestamp_ntz": "TIMESTAMP(3)",
}


def _flink_type(t: str) -> str:
    """Reverse of _map_type for SHOW CREATE TABLE rendering."""
    return _FLINK_TYPE.get(t.lower(), t.upper())


# DESCRIBE [EXTENDED] t — the reference's DescribeTableOperation executes
# BOTH forms as SHOW COLUMNS (the isExtended flag is parsed and ignored,
# DescribeTableOperation.java execute()); Spark's FORMATTED stays native.
_DESCRIBE_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?:EXTENDED\s+)?(?!FORMATTED\b)"
    r"(?P<name>\w+)\s*$"
    r"|^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+(?P<name2>\w+)"
    r"(?:\s+LIKE\s+'(?P<like>[^']*)')?\s*$",
    re.I,
)


def describe_table(spark: SparkSession, name: str, like: str | None = None):
    """Flink-style DESCRIBE / SHOW COLUMNS (reference DescribeTableOperation
    / SqlShowColumns): columns name/type/null/key/extras/watermark — the
    reference's six-column layout, including the WATERMARK expression and
    partition-key marker Spark's own DESCRIBE cannot know about."""
    st = session_state(spark)
    spec = st.tables.get(name)
    if spec is None:
        return None  # Spark handles DESCRIBE for its own tables
    if spec[0] == "datagen":
        cols = list(spec[2])
        pkeys: list[str] = []
    else:
        cols = _schema_ddl_cols(spec[2])
        from apache_flink_spark.ddl import part_cols

        pkeys = part_cols(spark, name)
    wm_col, wm = (None, "")
    if name in st.watermarks:
        c, delay = st.watermarks[name]
        n, u = delay.split(None, 1)
        wm_col, wm = c, f"`{c}` - INTERVAL '{n}' {u.upper()}"
    rows = []
    for c, t in cols:
        if like is not None:
            # SQL LIKE with % / _ wildcards, anchored (reference ShowLike)
            pat = re.escape(like).replace("%", ".*").replace("_", ".")
            if not re.fullmatch(pat, c, re.I):
                continue
        rows.append(
            (
                c,
                _flink_type(t),
                True,
                "PRT" if c in pkeys else "",
                "",
                wm if c == wm_col else "",
            )
        )
    return spark.createDataFrame(
        rows,
        "name string, type string, null boolean, key string, "
        "extras string, watermark string",
    )


def show_create_table(spark: SparkSession, name: str):
    """Reconstructed Flink DDL — reference ShowCreateUtil: one row,
    column ``result``. Round-trips through execute_flink_ddl."""
    from apache_flink_spark.ddl import _DISTRIBUTED

    if name in _DISTRIBUTED:
        # FLIP-376 bucketed table (SqlDistribution.unparse shape)
        d = _DISTRIBUTED[name]
        body = ",\n".join(
            f"  {c} {_flink_type(t)}" for c, t in d["cols_types"]
        )
        kind = f"{d['kind']} " if d["kind"] else ""
        dist = (
            f"DISTRIBUTED BY {kind}({', '.join(d['cols'])}) "
            f"INTO {d['buckets']} BUCKETS "
        )
        part = (
            f"PARTITIONED BY ({', '.join(d['parts'])}) " if d["parts"] else ""
        )
        with_body = ",\n".join(
            f"  '{k}' = '{v}'" for k, v in sorted(d["opts"].items())
        )
        ddl = (
            f"CREATE TABLE {name} (\n{body}\n) {dist}{part}"
            f"WITH (\n{with_body}\n)"
        )
        return spark.createDataFrame([(ddl,)], "result string")
    st = session_state(spark)
    spec = st.tables.get(name)
    if spec is None:
        return None  # not a DDL table — Spark may know it
    if spec[0] == "datagen":
        cols = [(c, t) for c, t in spec[2]]
        opts = dict(spec[1])
        opts.setdefault("connector", "datagen")
    else:
        fmt, path, schema_ddl, topts = spec
        cols = _schema_ddl_cols(schema_ddl)
        opts = dict(topts)
        opts.setdefault("connector", "filesystem")
        opts.setdefault("path", path)
        opts.setdefault("format", fmt)
    lines = [f"  {c} {_flink_type(t)}" for c, t in cols]
    if name in st.watermarks:
        col, delay = st.watermarks[name]
        n, u = delay.split(None, 1)
        lines.append(
            f"  WATERMARK FOR {col} AS {col} - INTERVAL '{n}' {u.upper()}"
        )
    body = ",\n".join(lines)
    from apache_flink_spark.ddl import _PART_KEY

    part = ""
    if opts.get(_PART_KEY):
        part = (
            "PARTITIONED BY ("
            + ", ".join(opts[_PART_KEY].split(","))
            + ") "
        )
    with_body = ",\n".join(
        f"  '{k}' = '{v}'"
        for k, v in sorted(opts.items())
        if k != _PART_KEY
    )
    ddl = f"CREATE TABLE {name} (\n{body}\n) {part}WITH (\n{with_body}\n)"
    return spark.createDataFrame([(ddl,)], "result string")


_DROP_DIST_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+DISTRIBUTION\s*$", re.I
)


def try_handle_alter_statement(spark: SparkSession, sql: str):
    """Route one ALTER TABLE / SHOW CREATE TABLE statement; returns a
    result DataFrame or None when the statement is not one of ours."""
    st = session_state(spark)
    m = _SHOW_CREATE_RE.match(sql)
    if m:
        return show_create_table(spark, m.group("name"))

    m = _DROP_DIST_RE.match(sql)
    if m:
        # SqlAlterTableDropDistribution: removing the bucket spec changes
        # the physical layout, so this is a distributed rewrite (native
        # CTAS without CLUSTERED BY -> swap), never driver-side.
        from apache_flink_spark.ddl import _DISTRIBUTED

        name = m.group("name")
        if name not in _DISTRIBUTED:
            raise DdlError(
                f"table {name!r} has no declared DISTRIBUTED BY clause"
            )
        staging = f"{name}__dropdist__"
        spec = _DISTRIBUTED[name]
        fmt = spec["opts"].get("format", "parquet").lower()
        # only the BUCKET spec is removed — the declared PARTITIONED BY
        # layout survives the rewrite (r7 review: a bare CTAS silently
        # dropped it, where the reference removes just the distribution)
        part_ddl = (
            f" PARTITIONED BY ({', '.join(spec['parts'])})"
            if spec.get("parts") else ""
        )
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        spark.sql(
            f"CREATE TABLE {staging} USING {fmt}{part_ddl} "
            f"AS SELECT * FROM {name}"
        )
        spark.sql(f"DROP TABLE {name}")
        spark.sql(f"ALTER TABLE {staging} RENAME TO {name}")
        if spec.get("parts"):
            # managed-table RENAME moves the location but the catalog's
            # partition entries still point at the old paths — re-discover
            # them from the moved directory tree
            spark.sql(f"MSCK REPAIR TABLE {name}")
        del _DISTRIBUTED[name]
        return spark.createDataFrame([("OK",)], "result string")

    m = _DESCRIBE_RE.match(sql)
    if m:
        return describe_table(
            spark, m.group("name") or m.group("name2"), m.group("like")
        )

    m = _SHOW_PARTS_RE.match(sql)
    if m:
        # reference SqlShowPartitions: one ``partition`` row per
        # hive-style partition dir, optionally filtered by a spec prefix
        name = m.group("name")
        spec = _fs_spec(spark, name)
        if spec is None:
            return None
        from apache_flink_spark.ddl import part_cols

        declared = part_cols(spark, name)
        if not declared:
            raise DdlError(f"table {name!r} is not partitioned")
        rows = _list_partitions(spec[1], declared)
        if m.group("spec"):
            prefix = "/".join(
                f"{c}={v}"
                for c, v in _parse_part_spec(spark, name, m.group("spec"))
            )
            rows = [r for r in rows if r.startswith(prefix)]
        return spark.createDataFrame(
            [(r,) for r in rows], "`partition name` string"
        )

    m = _ADD_PART_RE.match(sql)
    if m:
        # SqlAddPartitions: register (create) the partition directory
        name = m.group("name")
        spec = _fs_spec(spark, name)
        if spec is None:
            return None
        pairs = _parse_part_spec(spark, name, m.group("spec"))
        from apache_flink_spark.ddl import part_cols

        if len(pairs) != len(part_cols(spark, name)):
            raise DdlError(
                "ADD PARTITION needs a FULL partition spec "
                f"({part_cols(spark, name)})"
            )
        d = _part_dir(spec[1], pairs)
        if os.path.exists(d) and not m.group("ine"):
            raise DdlError(f"partition {d!r} already exists")
        os.makedirs(d, exist_ok=True)
        return _ok(spark)

    m = _DROP_PART_RE.match(sql)
    if m:
        # SqlDropPartitions: remove the partition dir(s) + refresh
        name = m.group("name")
        spec = _fs_spec(spark, name)
        if spec is None:
            return None
        pairs = _parse_part_spec(spark, name, m.group("spec"))
        d = _part_dir(spec[1], pairs)
        if not os.path.exists(d):
            if m.group("ie"):
                return _ok(spark)
            raise DdlError(f"partition {d!r} does not exist")
        shutil.rmtree(d)
        spark.catalog.refreshByPath(spec[1])
        refresh_table_view(spark, name)
        return _ok(spark)

    m = _RENAME_TABLE_RE.match(sql)
    if m:
        name, to = m.group("name"), m.group("to")
        if name not in st.tables:
            if re.match(r"^\s*ALTER\s+TABLE\s+IF\s+EXISTS", sql, re.I):
                return _ok(spark)
            return None  # Spark handles ALTER ... RENAME on its tables
        if to in st.tables:
            raise DdlError(f"target table {to!r} already exists")
        st.tables[to] = st.tables.pop(name)
        if name in st.watermarks:
            st.watermarks[to] = st.watermarks.pop(name)
        spark.catalog.dropTempView(name)
        if st.tables[to][0] == "datagen":
            from apache_flink_spark.ddl import _datagen_df

            _datagen_df(spark, st.tables[to][2], st.tables[to][1]) \
                .createOrReplaceTempView(to)
        else:
            refresh_table_view(spark, to)
        return _ok(spark)

    m = _RENAME_COL_RE.match(sql)
    if m:
        name, col, to = m.group("name"), m.group("col"), m.group("to")
        if _fs_spec(spark, name) is None:
            return None
        cols = _schema_ddl_cols(st.tables[name][2])
        names = [c for c, _t in cols]
        if col not in names:
            raise DdlError(f"column {col!r} not in table {name!r}")
        if to in names:
            raise DdlError(f"column {to!r} already exists in {name!r}")
        from apache_flink_spark.ddl import part_cols

        if col in part_cols(spark, name):
            raise DdlError(
                f"cannot RENAME partition column {col!r} — the hive "
                "directory layout is keyed by its name"
            )
        # COW: by-name formats would resolve the renamed column to NULL
        # against old files; positional csv would carry a stale header
        _cow_rewrite(
            spark, name,
            [F.col(c).alias(to if c == col else c) for c in names],
        )
        _set_schema(
            spark, name, [(to if c == col else c, t) for c, t in cols]
        )
        if st.watermarks.get(name, (None,))[0] == col:
            st.watermarks[name] = (to, st.watermarks[name][1])
        refresh_table_view(spark, name)
        return _ok(spark)

    m = _SET_RE.match(sql)
    if m:
        name = m.group("name")
        if _fs_spec(spark, name) is None:
            return None
        new = _split_options(m.group("opts"))
        if not new:
            raise DdlError("ALTER TABLE ... SET with no 'k'='v' pairs")
        if "connector" in new:
            raise DdlError(
                "changing 'connector' is unsupported (reference: "
                "ALTER TABLE SET cannot change the connector either)"
            )
        if "partitioned-by" in new:
            raise DdlError(
                "cannot SET 'partitioned-by' — the hive directory layout "
                "is physical; declare partitioning at CREATE time"
            )
        fmt, path, schema_ddl, opts = st.tables[name]
        opts = {**opts, **new}
        fmt = opts.get("format", fmt).lower()
        path = opts.get("path", path)
        st.tables[name] = (fmt, path, schema_ddl, opts)
        refresh_table_view(spark, name)
        return _ok(spark)

    m = _RESET_RE.match(sql)
    if m:
        name = m.group("name")
        if _fs_spec(spark, name) is None:
            return None
        keys = [k for k in re.findall(r"'([^']*)'", m.group("keys"))]
        if not keys:
            raise DdlError("ALTER TABLE ... RESET with no keys")
        fmt, path, schema_ddl, opts = st.tables[name]
        # validate EVERY key before touching the catalog entry — popping
        # from the live dict as we scan half-applies a failed statement
        # (r6 review finding #7); 'partitioned-by' is physical layout
        for k in keys:
            if k.lower() in ("connector", "path", "partitioned-by"):
                raise DdlError(f"cannot RESET required option {k!r}")
        dropped = {k.lower() for k in keys}
        opts = {k: v for k, v in opts.items() if k not in dropped}
        st.tables[name] = (fmt, path, schema_ddl, opts)
        refresh_table_view(spark, name)
        return _ok(spark)

    m = _ADD_RE.match(sql)
    if m:
        name = m.group("name")
        spec = _fs_spec(spark, name)
        if spec is None:
            return None
        fmt, _path, schema_ddl, _opts = spec
        adds = _parse_typed_cols(m.group("cols") or m.group("col"))
        cols = _schema_ddl_cols(schema_ddl)
        names = {c for c, _t in cols}
        for c, t, pos in adds:
            if c in names:
                raise DdlError(f"column {c!r} already exists in {name!r}")
            cols = _insert_at(cols, (c, t), pos)
            names.add(c)
        if fmt in _BY_NAME_FORMATS:
            _set_schema(spark, name, cols)  # old files read it as NULL
        else:
            # positional format: rewrite so files match the new layout
            old = _schema_ddl_cols(schema_ddl)
            exprs = [
                F.col(c) if c in {o for o, _ in old}
                else F.lit(None).cast(t).alias(c)
                for c, t in cols
            ]
            _cow_rewrite(spark, name, exprs)
            _set_schema(spark, name, cols)
        refresh_table_view(spark, name)
        return _ok(spark)

    m = _DROP_RE.match(sql)
    if m:
        name = m.group("name")
        spec = _fs_spec(spark, name)
        if spec is None:
            return None
        fmt, _path, schema_ddl, _opts = spec
        drops = [
            c.strip()
            for c in (m.group("cols") or m.group("col")).split(",")
            if c.strip()
        ]
        cols = _schema_ddl_cols(schema_ddl)
        names = [c for c, _t in cols]
        for c in drops:
            if c not in names:
                raise DdlError(f"column {c!r} not in table {name!r}")
        kept = [(c, t) for c, t in cols if c not in drops]
        if not kept:
            raise DdlError("cannot DROP every column")
        if st.watermarks.get(name, (None,))[0] in drops:
            raise DdlError(
                "cannot DROP the watermark column (reference: rowtime "
                "attribute columns cannot be dropped)"
            )
        from apache_flink_spark.ddl import part_cols

        hit = [c for c in drops if c in part_cols(spark, name)]
        if hit:
            raise DdlError(
                f"cannot DROP partition column(s) {hit} — the hive "
                "directory layout is keyed by them"
            )
        if fmt in _BY_NAME_FORMATS:
            _set_schema(spark, name, kept)  # reader simply stops projecting it
        else:
            _cow_rewrite(spark, name, [F.col(c) for c, _t in kept])
            _set_schema(spark, name, kept)
        refresh_table_view(spark, name)
        return _ok(spark)

    m = _MODIFY_RE.match(sql)
    if m:
        name = m.group("name")
        if _fs_spec(spark, name) is None:
            return None
        mods = _parse_typed_cols(m.group("cols") or m.group("col"))
        cols = _schema_ddl_cols(st.tables[name][2])
        names = [c for c, _t in cols]
        by_name = dict(cols)
        from apache_flink_spark.ddl import part_cols

        pkeys = set(part_cols(spark, name))
        for c, t, pos in mods:
            if c not in by_name:
                raise DdlError(f"column {c!r} not in table {name!r}")
            if pos is not None:
                raise DdlError(
                    "MODIFY ... FIRST/AFTER reordering is unsupported "
                    "(type changes only)"
                )
            if c in pkeys:
                # same guard as RENAME/DROP: a failed cast would rewrite
                # every row under __HIVE_DEFAULT_PARTITION__ (r6 review)
                raise DdlError(
                    f"cannot MODIFY partition column {c!r} — the hive "
                    "directory layout is keyed by its value"
                )
            by_name[c] = t
        # COW with cast: a metadata-only type change breaks parquet
        # readers (physical type mismatch) and silently mis-parses csv
        _cow_rewrite(
            spark, name,
            [F.col(c).cast(by_name[c]).alias(c) for c in names],
        )
        _set_schema(spark, name, [(c, by_name[c]) for c in names])
        refresh_table_view(spark, name)
        return _ok(spark)

    m = _COMPACT_RE.match(sql)
    if m:
        name = m.group("name")
        spec = _fs_spec(spark, name)
        if spec is None:
            return None
        fmt, path, _schema, _opts = spec
        if fmt != "parquet":
            raise DdlError(
                f"ALTER TABLE COMPACT supports parquet tables; {name!r} "
                f"is {fmt!r}"
            )
        from apache_flink_spark.procedures import (
            ProcedureContext,
            _compact_files,
        )

        schema_ddl, rows = _compact_files(ProcedureContext(spark), path)
        return spark.createDataFrame(rows, schema_ddl)

    am = re.match(
        r"^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)", sql, re.I
    )
    if am and am.group(1) in st.tables:
        raise DdlError(
            f"unsupported ALTER TABLE clause: {sql.strip()[:80]!r} — "
            "supported: RENAME TO, RENAME col TO, SET, RESET, ADD, DROP, "
            "MODIFY, COMPACT"
        )
    return None
