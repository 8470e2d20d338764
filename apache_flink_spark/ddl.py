"""Flink CREATE TABLE DDL — connector tables with WATERMARK clauses.

Reference parity: Flink SQL DDL (flink-table-planner SqlCreateTable /
CatalogTable; options resolved by DynamicTableFactory discovery — e.g.
``WITH ('connector'='filesystem', 'path'=..., 'format'='parquet')``) is how
every reference user declares sources. Spark SQL's CREATE TABLE speaks
USING/OPTIONS, so :func:`execute_flink_ddl` compiles the Flink form:

  - ``connector=filesystem`` + format parquet/csv/json/orc -> a reader over
    the path, registered as a temp view (Catalyst still prunes/pushes into
    the scan — the view is lazy, not materialized);
  - ``connector=datagen`` -> a bounded ``spark.range`` sequence column;
  - ``WATERMARK FOR c AS c - INTERVAL 'n' u`` -> recorded in the
    session's :attr:`~apache_flink_spark.session.SessionState.watermarks`;
    :func:`stream_ddl_table` replays the same DDL table as a file stream
    with ``withWatermark`` applied — the exact split the reference hides
    behind one DDL (batch scan vs streaming scan of the same declared
    table);
  - ``PRIMARY KEY ... NOT ENFORCED`` -> accepted and ignored (Spark, like
    the reference, does not enforce it);
  - anything else (kafka, jdbc, hive connectors; computed columns) raises
    ``DdlError`` loudly, mirroring factory-discovery failures.

Types map structurally: STRING->string, TIMESTAMP(p)/TIMESTAMP_LTZ(p)->
timestamp, DECIMAL(p,s) kept, everything else lower-cased verbatim
(BIGINT/INT/DOUBLE/FLOAT/BOOLEAN/DATE/VARBINARY->binary).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_spark.session import session_state
from apache_flink_spark.statement import split_top_level


class DdlError(ValueError):
    pass


def _fs_read_opts(opts: dict, fmt: str) -> dict:
    out = {}
    if fmt == "csv":
        out["header"] = opts.get("csv.include-header", "true")
        out["sep"] = opts.get("csv.field-delimiter", ",")
    return out


def fs_reader(spark: SparkSession, name: str, overrides: dict | None = None):
    """Batch reader for a filesystem DDL table, honoring its declared
    options merged with per-statement ``overrides`` (OPTIONS hint keys,
    e.g. 'csv.field-delimiter'). Returns (reader, path)."""
    fmt, path, schema_ddl, opts = session_state(spark).tables[name]
    merged = {**opts, **(overrides or {})}
    fmt = merged.get("format", fmt).lower()
    path = merged.get("path", path)
    reader = spark.read.format(fmt).schema(schema_ddl)
    for k, v in _fs_read_opts(merged, fmt).items():
        reader = reader.option(k, v)
    return reader, path


def fs_writer(spark: SparkSession, df, name: str):
    """Writer for a filesystem DDL table honoring its declared options
    and PARTITIONED BY layout. Returns (writer, fmt, path)."""
    fmt, path, _schema, opts = session_state(spark).tables[name]
    writer = df.write.format(fmt)
    for k, v in _fs_read_opts(opts, fmt).items():
        writer = writer.option(k, v)
    pb = [c for c in opts.get(_PART_KEY, "").split(",") if c]
    if pb:
        # hive-style partition dirs; overwrite replaces only the TOUCHED
        # partitions (the reference filesystem sink's overwrite contract)
        writer = writer.partitionBy(*pb).option(
            "partitionOverwriteMode", "dynamic"
        )
    return writer, fmt, path


def refresh_table_view(spark: SparkSession, name: str) -> None:
    """Re-register the temp view after the table's files changed."""
    reader, path = fs_reader(spark, name)
    reader.load(path).createOrReplaceTempView(name)

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>\w+)\s*\((?P<body>.*)\)\s*"
    r"WITH\s*\((?P<opts>.*)\)\s*$",
    re.I | re.S,
)

#: reserved option key carrying the declared PARTITIONED BY columns
#: (comma-joined, in declaration order)
_PART_KEY = "partitioned-by"

# ``) PARTITIONED BY (a, b) WITH (`` — extracted and spliced out BEFORE
# _CREATE_RE runs (a greedy body group would otherwise swallow it)
_PARTITIONED_RE = re.compile(
    r"\)\s*PARTITIONED\s+BY\s*\((?P<parts>[\w\s,]+)\)\s*(?=WITH\s*\()",
    re.I | re.S,
)

# FLIP-376 bucketing clause (reference SqlDistribution.java — flink-table/
# flink-sql-parser/.../ddl/SqlDistribution.java): sits between the column
# body and PARTITIONED BY/WITH. Both forms:
#   DISTRIBUTED BY [HASH|RANGE] (a, b) [INTO n BUCKETS]
#   DISTRIBUTED INTO n BUCKETS
_DISTRIBUTED_RE = re.compile(
    r"\)\s*DISTRIBUTED\s+"
    r"(?:BY\s+(?:(?P<kind>HASH|RANGE)\s*)?\((?P<cols>[\w\s,]+)\)\s*)?"
    r"(?:INTO\s+(?P<n>\d+)\s+BUCKETS\s*)?"
    r"(?=(?:PARTITIONED\s+BY|WITH)\s*\()",
    re.I | re.S,
)

#: DISTRIBUTED BY tables are NATIVE Spark bucketed catalog tables (the
#: zero-exchange join lane — tests/test_bucketing.py); this records the
#: declared clause so SHOW CREATE TABLE renders the Flink-shaped DDL.
#: name -> {"kind", "cols", "buckets", "opts", "cols_types"}
_DISTRIBUTED: dict[str, dict] = {}

#: default bucket count when the DDL omits INTO n BUCKETS (the reference
#: leaves the count to the connector; Spark needs one at CREATE time)
_DEFAULT_BUCKETS = 16


def _execute_create_distributed(
    spark: SparkSession, name: str, cols, watermark, dist: dict, opts: dict,
    parts: list[str], if_not_exists: bool = False,
) -> bool:
    """CREATE TABLE ... DISTRIBUTED BY (k) INTO n BUCKETS — compiled to a
    native Spark bucketed catalog table (``CLUSTERED BY ... INTO n
    BUCKETS``), the engine's zero-exchange join lane: two tables
    co-bucketed on their join key plan a SortMergeJoin with NO Exchange on
    either side, which at 100 TB replaces a full shuffle of both facts
    with co-located bucket reads. INSERT/SELECT/ALTER on the table fall
    through to Spark natively (it is a real catalog table, not a temp
    view)."""
    if dist["kind"] == "RANGE":
        raise DdlError(
            "DISTRIBUTED BY RANGE is not supported — Spark's bucketing is "
            "hash-based; declare DISTRIBUTED BY HASH(...) (the reference "
            "also treats the kind as a connector capability, "
            "SupportsBucketing.listAlgorithms)"
        )
    if not dist["cols"]:
        raise DdlError(
            "DISTRIBUTED INTO n BUCKETS without columns leaves the "
            "distribution key to the connector — this engine needs "
            "explicit columns: DISTRIBUTED BY (col, ...) INTO n BUCKETS"
        )
    declared = {c for c, _t in cols}
    bad = [c for c in dist["cols"] if c not in declared]
    if bad:
        raise DdlError(f"DISTRIBUTED BY columns {bad} are not declared columns")
    connector = opts.get("connector", "filesystem").lower()
    if connector != "filesystem":
        raise DdlError(
            f"DISTRIBUTED BY requires the filesystem connector; got "
            f"{connector!r}"
        )
    fmt = opts.get("format", "parquet").lower()
    if fmt not in ("parquet", "orc", "json", "csv"):
        raise DdlError(f"unsupported filesystem format {fmt!r}")
    # Existing-table semantics match the other CREATE paths (r7 review:
    # the initial version dropped silently): IF NOT EXISTS no-ops, a plain
    # CREATE over an existing table errors. The SPARK CATALOG is the
    # source of truth — a DROP TABLE through spark.sql cannot update
    # _DISTRIBUTED, so a stale entry there must not block re-creation —
    # and a TEMP VIEW of the same name is a different namespace, not a
    # conflict (r7 review #7).
    exists = _catalog_table_exists(spark, name)
    if not exists:
        _DISTRIBUTED.pop(name, None)
    if exists:
        if if_not_exists:
            return True
        raise DdlError(
            f"table {name!r} already exists — use CREATE TABLE IF NOT "
            "EXISTS or DROP TABLE first"
        )
    n = dist["buckets"] or _DEFAULT_BUCKETS
    key_list = ", ".join(dist["cols"])
    col_ddl = ", ".join(f"{c} {t}" for c, t in cols)
    part_ddl = (
        f" PARTITIONED BY ({', '.join(parts)})" if parts else ""
    )
    loc = ""
    if opts.get("path"):
        loc = f" LOCATION '{opts['path']}'"
    # no catalog table exists here (checked above — a temp view of the
    # same name is a different namespace and is left alone)
    if not opts.get("path"):
        # an in-memory-catalog session cannot DROP a managed location left
        # by a PREVIOUS session; clear it or CREATE fails with
        # LOCATION_ALREADY_EXISTS (same replace semantics as the drop+create
        # above, just across sessions)
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        if wh and os.path.isdir(os.path.join(wh, name.lower())):
            shutil.rmtree(os.path.join(wh, name.lower()), ignore_errors=True)
    spark.sql(
        f"CREATE TABLE {name} ({col_ddl}) USING {fmt}{part_ddl} "
        f"CLUSTERED BY ({key_list}) SORTED BY ({key_list}) "
        f"INTO {n} BUCKETS{loc}"
    )
    _DISTRIBUTED[name] = {
        "kind": dist["kind"] or "",
        "cols": dist["cols"],
        "buckets": n,
        "opts": opts,
        "cols_types": cols,
        "parts": parts,
    }
    if watermark:
        session_state(spark).watermarks[name] = watermark
    return True


def part_cols(spark: SparkSession, name: str) -> list[str]:
    """Declared PARTITIONED BY columns of a DDL table ([] if none)."""
    spec = session_state(spark).tables[name]
    if spec[0] == "datagen":
        return []
    pb = spec[3].get(_PART_KEY, "")
    return [c for c in pb.split(",") if c]


def _reject_reserved_opts(opts: dict) -> None:
    """The WITH clause must not inject the reserved partition-layout key
    directly (r6 review): a hand-written 'partitioned-by' bypasses the
    PARTITIONED BY column validation, so part_cols() reports columns the
    table doesn't have and every INSERT fails — or worse, a real column
    name grafted onto existing flat files creates the mixed layout the
    partition guards exist to prevent."""
    if _PART_KEY in opts:
        raise DdlError(
            f"option {_PART_KEY!r} is reserved — declare partitioning "
            "with PARTITIONED BY (col, ...) before the WITH clause"
        )


#: one ``col = 'quoted' | bareword`` pair of a partition spec
_KV_PAIR_RE = re.compile(r"(\w+)\s*=\s*('(?:[^']|'')*'|[\w.-]+)")


def parse_kv_spec(spec: str) -> dict[str, str]:
    """STRICT ``k='v', k2=3`` partition-spec parsing, shared by ALTER
    ADD/DROP PARTITION, SHOW PARTITIONS, INSERT's static PARTITION clause
    and materialized-table REFRESH PARTITION. Single-quoted values are
    unescaped (``''`` -> ``'``). Raises ValueError on an empty spec, a
    value-less entry (``PARTITION (region)``) or any other unparsed text —
    a lax parse here once turned ``DROP PARTITION ()`` into an rm of the
    whole table root (r6 review finding)."""
    out: dict[str, str] = {}
    for m in _KV_PAIR_RE.finditer(spec):
        v = m.group(2)
        out[m.group(1)] = (
            v[1:-1].replace("''", "'") if v.startswith("'") else v
        )
    leftover = _KV_PAIR_RE.sub("", spec).replace(",", "").strip()
    if leftover:
        raise ValueError(
            f"malformed partition spec entry {leftover.split()[0]!r} "
            f"in {spec.strip()!r} — expected col='value'[, ...]"
        )
    if not out:
        raise ValueError(f"empty partition spec {spec.strip()!r}")
    return out

_WATERMARK_RE = re.compile(
    r"^WATERMARK\s+FOR\s+(?P<col>\w+)\s+AS\s+\w+\s*-\s*"
    r"INTERVAL\s*'(?P<n>\d+)'\s*(?P<u>\w+)$",
    re.I,
)

_PK_RE = re.compile(r"^PRIMARY\s+KEY\s*\(.*\)\s*(NOT\s+ENFORCED)?$", re.I)

_TYPE_MAP = {
    "STRING": "string",
    "VARBINARY": "binary",
    "BYTES": "binary",
}


def _map_type(t: str) -> str:
    t = t.strip()
    m = re.match(r"^TIMESTAMP(?:_LTZ)?\s*(?:\(\d+\))?$", t, re.I)
    if m:
        return "timestamp"
    m = re.match(r"^(DECIMAL|NUMERIC)\s*\((\d+)\s*,\s*(\d+)\)$", t, re.I)
    if m:
        return f"decimal({m.group(2)},{m.group(3)})"
    up = t.upper()
    if up in _TYPE_MAP:
        return _TYPE_MAP[up]
    if re.match(r"^(VARCHAR|CHAR)\s*(\(\d+\))?$", up):
        return "string"
    return t.lower()


def _split_options(opts: str) -> dict[str, str]:
    out = {}
    for m in re.finditer(r"'([^']*)'\s*=\s*'([^']*)'", opts):
        out[m.group(1).lower()] = m.group(2)
    return out


def _parse_columns(body: str):
    cols, watermark = [], None
    # the <> of MAP/ARRAY/ROW types nest like parentheses
    for part in split_top_level(body, "(<", ")>"):
        wm = _WATERMARK_RE.match(part)
        if wm:
            watermark = (wm.group("col"), f"{wm.group('n')} {wm.group('u').lower()}")
            continue
        if _PK_RE.match(part):
            continue  # accepted, not enforced — like the reference
        m = re.match(r"^`?(\w+)`?\s+(.+?)(?:\s+NOT\s+NULL)?$", part, re.I | re.S)
        if not m or re.search(r"\bAS\b", part, re.I):
            raise DdlError(
                f"unsupported column clause {part!r} (computed columns / "
                "metadata columns are outside the supported DDL subset)"
            )
        cols.append((m.group(1), _map_type(m.group(2))))
    if not cols:
        raise DdlError("CREATE TABLE with no physical columns")
    return cols, watermark


def _schema_ddl_cols(schema_ddl: str) -> list[tuple[str, str]]:
    """Parse ``"a BIGINT, b DECIMAL(10, 2)"`` into [(name, type)] —
    commas inside (), <> are type syntax, not separators."""
    out = []
    for p in split_top_level(schema_ddl, "(<", ")>"):
        toks = p.split(None, 1)
        if len(toks) != 2:
            raise DdlError(f"bad schema column: {p.strip()!r}")
        out.append((toks[0].strip("`"), toks[1].strip()))
    return out


def _datagen_df(spark: SparkSession, cols, opts: dict):
    """Deterministic datagen scan (reference datagen connector): first
    column is the sequence id, the rest cycle mod 97. Honors the
    'number-of-rows' option — including per-statement OPTIONS overrides."""
    n = int(opts.get("number-of-rows", "1000"))
    first = cols[0][0]
    return spark.range(n).select(
        F.col("id").cast(dict(cols)[first]).alias(first),
        *[(F.col("id") % 97).cast(t).alias(c) for c, t in cols[1:]],
    )


_CREATE_LIKE_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>\w+)\s*(?:\((?P<body>.*?)\)\s*)?"
    r"(?:WITH\s*\((?P<opts>.*?)\)\s*)?"
    r"LIKE\s+(?P<src>\w+)\s*(?:\((?P<like>[^()]*)\))?\s*$",
    re.I | re.S,
)

_LIKE_OPT_RE = re.compile(
    r"(INCLUDING|EXCLUDING|OVERWRITING)\s+"
    r"(ALL|OPTIONS|WATERMARKS|CONSTRAINTS|GENERATED|METADATA|PARTITIONS)",
    re.I,
)


def _execute_create_like(spark: SparkSession, m) -> bool:
    """CREATE TABLE t2 [(extra cols/watermark)] [WITH (...)] LIKE t1
    [(like options)] — reference SqlCreateTableLike merged by
    MergeTableLikeUtil.java. Strategies follow the reference:

      - columns: always inherited; extra declared columns appended;
      - OPTIONS: default INCLUDING (merge; duplicate key with a different
        value errors), OVERWRITING lets the new WITH win, EXCLUDING keeps
        only the new WITH;
      - WATERMARKS: default INCLUDING; a newly declared watermark needs
        OVERWRITING when the source has one; EXCLUDING drops it;
      - CONSTRAINTS: accepted (PKs are NOT ENFORCED no-ops here);
      - PARTITIONS: default INCLUDING (the PARTITIONED BY layout is
        inherited, independent of the OPTIONS strategy); EXCLUDING drops
        it; OVERWRITING is invalid (as in MergeTableLikeUtil);
      - GENERATED/METADATA: outside the supported DDL subset
        (no computed/metadata columns exist) — error loudly.
    """
    st = session_state(spark)
    name, src = m.group("name"), m.group("src")
    if src not in st.tables:
        # r6 ADVICE: Spark supports CREATE TABLE ... LIKE on its own catalog
        # tables — when the source is not a DDL-declared table, fall through
        # to spark.sql instead of breaking previously-valid statements.
        return False
    strat = {"OPTIONS": "INCLUDING", "WATERMARKS": "INCLUDING",
             "CONSTRAINTS": "INCLUDING", "PARTITIONS": "INCLUDING"}
    for sm in _LIKE_OPT_RE.finditer(m.group("like") or ""):
        how, what = sm.group(1).upper(), sm.group(2).upper()
        if what in ("GENERATED", "METADATA"):
            raise DdlError(
                f"LIKE option {how} {what} is outside the supported DDL "
                "subset (no computed/metadata columns)"
            )
        if what == "PARTITIONS" and how == "OVERWRITING":
            # reference MergeTableLikeUtil: partitions merge only as
            # INCLUDING/EXCLUDING
            raise DdlError("OVERWRITING PARTITIONS is not valid LIKE syntax")
        if what == "ALL":
            if how == "OVERWRITING":
                raise DdlError("OVERWRITING ALL is not valid LIKE syntax")
            strat = dict.fromkeys(strat, how)
        else:
            strat[what] = how

    extra_cols, extra_wm = (
        _parse_columns(m.group("body")) if m.group("body")
        else ([], None)
    )
    new_opts = _split_options(m.group("opts") or "")
    _reject_reserved_opts(new_opts)

    spec = st.tables[src]
    if spec[0] == "datagen":
        src_cols = list(spec[2])
        src_opts = dict(spec[1])
    else:
        fmt, path, schema_ddl, topts = spec
        src_cols = _schema_ddl_cols(schema_ddl)
        src_opts = dict(topts)
        src_opts.setdefault("connector", "filesystem")
        src_opts.setdefault("path", path)
        src_opts.setdefault("format", fmt)

    # PARTITIONED BY travels as the reserved option — decouple it from the
    # OPTIONS merge strategy so EXCLUDING OPTIONS doesn't silently drop
    # partitioning and EXCLUDING PARTITIONS actually removes it (r6 review)
    src_pb = src_opts.pop(_PART_KEY, None)

    taken = {c for c, _t in src_cols}
    for c, _t in extra_cols:
        if c in taken:
            raise DdlError(
                f"LIKE: column {c!r} already exists in source {src!r} "
                "(the reference's MergeTableLikeUtil rejects duplicates too)"
            )
    cols = src_cols + extra_cols

    if strat["OPTIONS"] == "EXCLUDING":
        opts = new_opts
    elif strat["OPTIONS"] == "OVERWRITING":
        opts = {**src_opts, **new_opts}
    else:  # INCLUDING — duplicate keys with conflicting values error
        for k, v in new_opts.items():
            if k in src_opts and src_opts[k] != v:
                raise DdlError(
                    f"LIKE INCLUDING OPTIONS: option {k!r} declared with a "
                    f"different value ({v!r} vs {src_opts[k]!r}) — use "
                    "OVERWRITING OPTIONS"
                )
        opts = {**src_opts, **new_opts}
    if strat["PARTITIONS"] != "EXCLUDING" and src_pb:
        opts[_PART_KEY] = src_pb

    watermark = None
    if strat["WATERMARKS"] != "EXCLUDING" and src in st.watermarks:
        watermark = st.watermarks[src]
    if extra_wm is not None:
        if watermark is not None and strat["WATERMARKS"] != "OVERWRITING":
            raise DdlError(
                "LIKE: source already defines a watermark — use "
                "OVERWRITING WATERMARKS to replace it"
            )
        watermark = extra_wm

    schema_ddl = ", ".join(f"{c} {t}" for c, t in cols)
    connector = opts.get("connector", "").lower()
    if connector == "filesystem":
        fmt = opts.get("format", "parquet").lower()
        path = opts.get("path")
        if not path:
            raise DdlError("filesystem connector requires a 'path' option")
        if fmt not in ("parquet", "csv", "json", "orc"):
            raise DdlError(f"unsupported filesystem format {fmt!r}")
        if not path.startswith(("s3://", "hdfs://")) and not os.path.exists(path):
            os.makedirs(path, exist_ok=True)
        st.tables[name] = (fmt, path, schema_ddl, opts)
        reader, _ = fs_reader(spark, name)
        df = reader.load(path)
    elif connector == "datagen":
        df = _datagen_df(spark, cols, opts)
        st.tables[name] = ("datagen", opts, cols)
    else:
        raise DdlError(
            f"unsupported connector {connector!r} in LIKE result — "
            "supported: filesystem, datagen"
        )
    df.createOrReplaceTempView(name)
    if watermark:
        st.watermarks[name] = watermark
    elif name in st.watermarks:
        del st.watermarks[name]
    return True


_CTAS_DIST = (
    r"(?:DISTRIBUTED\s+BY\s+(?:(?P<dkind>HASH|RANGE)\s*)?"
    r"\((?P<dcols>[\w\s,]+)\)\s*"
    r"(?:INTO\s+(?P<dn>\d+)\s+BUCKETS\s*)?)?"
)

_CREATE_AS_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>\w+)\s*"
    r"(?:\((?P<cols>[^()]*(?:\([^()]*\)[^()]*)*)\)\s*)?"
    + _CTAS_DIST +
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>[\w\s,]+)\)\s*)?"
    r"WITH\s*\((?P<opts>.*?)\)\s*"
    r"AS\s+(?P<select>\(?\s*SELECT\b.*)$",
    re.I | re.S,
)

# RTAS — reference SqlReplaceTableAs.java (flink-table/flink-sql-parser/
# .../ddl/SqlReplaceTableAs.java): [CREATE OR] REPLACE TABLE t WITH (...)
# AS SELECT. CREATE OR REPLACE creates-or-replaces; bare REPLACE requires
# the table to exist (the reference validates this in
# SqlReplaceTableAs/SqlNodeToOperationConversion).
_REPLACE_AS_RE = re.compile(
    r"^\s*(?P<cor>CREATE\s+OR\s+)?REPLACE\s+TABLE\s+(?P<name>\w+)\s*"
    + _CTAS_DIST +
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>[\w\s,]+)\)\s*)?"
    r"WITH\s*\((?P<opts>.*?)\)\s*"
    r"AS\s+(?P<select>SELECT\b.*)$",
    re.I | re.S,
)


def _ctas_apply_column_list(out, cols_text: str):
    """FLINK-33061 CTAS column list (reference MergeTableAsUtil):

    - a list of BARE identifiers is a strict REORDER of the query schema
      (reorderColumns: sizes must match);
    - a TYPED list merges (mergeColumns): names NOT in the query schema
      become new NULL-filled columns placed FIRST in declared order;
      names that ARE query columns keep their QUERY position with the
      declared type applied in place;
    - ``name AS expr`` entries are computed (virtual) columns — part of
      the table schema but not of the persisted sink data, so they are
      excluded from the stored result (the reference's values sink
      likewise records physical columns only)."""
    from pyspark.sql import functions as F

    entries = []  # (name, type_or_None, is_computed)
    for ent in split_top_level(cols_text):
        cm = re.match(r"^`?(\w+)`?\s+AS\s+(.+)$", ent, re.I | re.S)
        if cm:
            entries.append((cm.group(1), None, True))
            continue
        tm = re.match(r"^`?(\w+)`?(?:\s+(.+))?$", ent, re.S)
        if not tm:
            raise DdlError(f"CTAS column list: cannot parse entry {ent!r}")
        entries.append((tm.group(1), (tm.group(2) or "").strip() or None, False))
    names = [n for n, _, _ in entries]
    if len(set(names)) != len(names):
        raise DdlError(
            "CTAS column list: a column name appears more than once "
            "(reference: \"A column named '<c>' already exists\")"
        )
    physical = [(n, t) for n, t, comp in entries if not comp]
    qcols = list(out.columns)
    if all(t is None for _, t in physical):
        listed = [n for n, _ in physical]
        if sorted(listed) != sorted(qcols) or len(listed) != len(qcols):
            raise DdlError(
                "CTAS bare column list must be a permutation of the "
                f"query columns {qcols} (reference reorderColumns); got "
                f"{listed}"
            )
        return out.select(*listed)
    declared = dict(physical)
    new_cols = [
        F.lit(None).cast(t).alias(n)
        for n, t in physical
        if n not in qcols
    ]
    if any(n not in qcols and t is None for n, t in physical):
        raise DdlError(
            "CTAS column list: a new (non-query) column requires a type"
        )
    merged = [
        F.col(c).cast(declared[c]).alias(c) if declared.get(c) else F.col(c)
        for c in qcols
    ]
    return out.select(*new_cols, *merged)


def _spark_type_ddl(dt) -> str:
    """Spark DataType -> schema-DDL type string (CTAS schema derivation)."""
    return dt.simpleString()


def _execute_create_as(spark: SparkSession, m, replace: str = "") -> bool:
    """CTAS into a connector table — reference SqlCreateTableAs
    (parserImpls.ftl; CreateTableASOperation): the sink table is derived
    from the query schema, created in the catalog, and the query result
    is written to it atomically — one distributed write, no driver
    materialization.

    ``replace`` (RTAS — SqlReplaceTableAs.java): "create_or_replace"
    replaces an existing table or creates a fresh one; "replace" requires
    it to exist. Either way the swap is write-to-staging -> atomic rename,
    so readers never observe a half-replaced table."""
    st = session_state(spark)
    name = m.group("name")
    opts = _split_options(m.group("opts"))
    _reject_reserved_opts(opts)
    if m.group("dcols"):
        # FLIP-376 CTAS + distribution (SqlCreateTableAs with
        # SqlDistribution): derive the schema from the query, create the
        # native bucketed table, and run ONE distributed INSERT — the
        # write shuffles on the bucket key exactly once.
        return _execute_ctas_distributed(spark, m, opts, replace)
    connector = opts.get("connector", "").lower()
    if connector != "filesystem":
        raise DdlError(
            f"CTAS supports the filesystem connector; got {connector!r}"
        )
    fmt = opts.get("format", "parquet").lower()
    path = opts.get("path")
    if not path:
        raise DdlError("filesystem connector requires a 'path' option")
    if fmt not in ("parquet", "csv", "json", "orc"):
        raise DdlError(f"unsupported filesystem format {fmt!r}")
    if replace == "replace" and name not in st.tables:
        raise DdlError(
            f"REPLACE TABLE {name!r}: table does not exist — use CREATE "
            "OR REPLACE TABLE (reference SqlReplaceTableAs validation)"
        )
    if name in st.tables and not replace:
        if re.match(
            r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+IF\s+NOT\s+EXISTS",
            m.string, re.I,
        ):
            return True
        raise DdlError(f"CTAS target table {name!r} already exists")
    sel = m.group("select").strip()
    if sel.startswith("("):
        # SqlCreateTableAs accepts a parenthesized query
        # (TableSinkITCase testCreateTableAsSelectWithSortLimit)
        sel = sel[1:].rstrip()
        if sel.endswith(")"):
            sel = sel[:-1]
    out = spark.sql(sel)
    for c in out.columns:
        if not re.match(r"^\w+$", c):
            raise DdlError(
                f"CTAS query column {c!r} is not a plain identifier — "
                "alias every expression column (the reference derives "
                "the sink schema from the query too)"
            )
    if m.groupdict().get("cols"):
        out = _ctas_apply_column_list(out, m.group("cols"))
    schema_ddl = ", ".join(
        f"{c} {_spark_type_ddl(t.dataType)}" for c, t in
        zip(out.columns, out.schema.fields)
    )
    if m.group("parts"):
        parts = [
            c.strip() for c in m.group("parts").split(",") if c.strip()
        ]
        bad = [p for p in parts if p not in out.columns]
        if bad:
            raise DdlError(
                f"CTAS PARTITIONED BY columns {bad} are not query columns"
            )
        opts[_PART_KEY] = ",".join(parts)
    prior = st.tables.get(name)
    st.tables[name] = (fmt, path, schema_ddl, opts)
    try:
        writer, _fmt, _p = fs_writer(spark, out, name)
        if replace and os.path.isdir(path) and os.listdir(path):
            # RTAS over live data: staging write -> atomic swap, so a
            # failed query never leaves a half-replaced table
            import shutil

            staging = path.rstrip("/") + ".__rtas__"
            backup = path.rstrip("/") + ".__prertas__"
            shutil.rmtree(staging, ignore_errors=True)
            writer.mode("overwrite").save(staging)
            shutil.rmtree(backup, ignore_errors=True)
            os.rename(path, backup)
            try:
                os.rename(staging, path)
            except BaseException:
                # second rename failed: put the old data back so the
                # table never points at a missing directory (r7 review)
                os.rename(backup, path)
                raise
            refresh_table_view(spark, name)
            # backup removed only after the new view resolves — a refresh
            # failure leaves the old data recoverable on disk
            shutil.rmtree(backup)
        else:
            writer.mode("overwrite").save(path)
            refresh_table_view(spark, name)
    except Exception:
        # failed CTAS/RTAS must not leave a wrong catalog entry
        if prior is not None:
            st.tables[name] = prior
        else:
            st.tables.pop(name, None)
        raise
    return True


def _catalog_table_exists(spark: SparkSession, name: str) -> bool:
    """True only for a real CATALOG table — tableExists also matches temp
    views, which live in a different namespace and must not conflict with
    (or be DROPped by) table DDL (r7 review)."""
    if not spark.catalog.tableExists(name):
        return False
    try:
        return not spark.catalog.getTable(name).isTemporary
    except Exception:
        return False


def _execute_ctas_distributed(spark, m, opts: dict, replace: str) -> bool:
    """CTAS/RTAS into a DISTRIBUTED BY table: the sink schema is the
    query's schema; the table is a native bucketed catalog table and the
    query result lands with one bucket-keyed write.

    Replace safety (r7 review): ALL validation and the full SELECT run
    against a STAGING table while the old table stays live; only then is
    the old table dropped and the staging renamed in — a failing query
    (including one that reads the table being replaced) leaves the
    original untouched."""
    name = m.group("name")
    if m.group("dkind") and m.group("dkind").upper() == "RANGE":
        raise DdlError(
            "DISTRIBUTED BY RANGE is not supported — Spark's bucketing "
            "is hash-based; declare DISTRIBUTED BY HASH(...)"
        )
    out = spark.sql(m.group("select"))
    for c in out.columns:
        if not re.match(r"^\w+$", c):
            raise DdlError(
                f"CTAS query column {c!r} is not a plain identifier — "
                "alias every expression column"
            )
    cols = [
        (c, f.dataType.simpleString())
        for c, f in zip(out.columns, out.schema.fields)
    ]
    dist = {
        "kind": (m.group("dkind") or "").upper(),
        "cols": [
            c.strip() for c in m.group("dcols").split(",") if c.strip()
        ],
        "buckets": int(m.group("dn")) if m.group("dn") else None,
    }
    parts = (
        [c.strip() for c in m.group("parts").split(",") if c.strip()]
        if m.group("parts") else []
    )
    bad = [c for c in dist["cols"] + parts if c not in out.columns]
    if bad:
        raise DdlError(
            f"DISTRIBUTED/PARTITIONED column(s) {bad} are not query "
            f"columns ({out.columns})"
        )
    exists = _catalog_table_exists(spark, name)
    if exists and not replace:
        if re.match(
            r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+IF\s+NOT\s+EXISTS",
            m.string, re.I,
        ):
            return True
        raise DdlError(f"CTAS target table {name!r} already exists")
    if replace == "replace" and not exists:
        raise DdlError(
            f"REPLACE TABLE {name!r}: table does not exist — use CREATE "
            "OR REPLACE TABLE"
        )
    target = name if not exists else f"{name}__ctasd__"
    # Explicit 'path' + replace: the staging table must NOT share the live
    # table's directory, or the staged insert appends files next to the
    # live data and the swapped-in table reads old+new rows (r7 advice).
    # Stage at a suffixed location and move the directory in at swap time.
    staged_opts = opts
    staged_path = None
    if exists and opts.get("path"):
        from urllib.parse import urlparse

        scheme = urlparse(opts["path"]).scheme
        if scheme not in ("", "file"):
            # The staged swap moves directories with shutil, which only
            # works on local paths — failing AFTER the live table was
            # dropped would lose the old data without installing the new
            # (r8 advice). Refuse BEFORE any destructive step.
            raise DdlError(
                f"CTAS replace of an external table at {opts['path']!r}: "
                f"the staged directory swap supports local/file paths "
                f"only (got scheme {scheme!r}) — on object stores, "
                "stage to a new path and repoint the table instead"
            )
        staged_path = opts["path"].rstrip("/") + ".__ctasd__"
        staged_opts = {**opts, "path": staged_path}
        _rmtree_path(staged_path)
    if exists:
        spark.sql(f"DROP TABLE IF EXISTS {target}")
        _DISTRIBUTED.pop(target, None)
    _execute_create_distributed(
        spark, target, cols, None, dist, staged_opts, parts
    )
    try:
        # positional insert against the TABLE's normalized column order —
        # Spark moves partition columns to the schema tail, so inserting
        # in query order would silently mis-bind them (r7 review)
        out.select(*spark.table(target).columns).write.insertInto(target)
    except BaseException:
        spark.sql(f"DROP TABLE IF EXISTS {target}")
        _DISTRIBUTED.pop(target, None)
        if staged_path is not None:
            _rmtree_path(staged_path)
        raise
    if exists:
        spark.sql(f"DROP TABLE {name}")
        _DISTRIBUTED.pop(name, None)
        if staged_path is not None:
            # external table: DROP left the old files; swap the directory
            # under the canonical path so the renamed table (re-pointed
            # below) reads only the staged result
            _rmtree_path(opts["path"])
            _move_path(staged_path, opts["path"])
        spark.sql(f"ALTER TABLE {target} RENAME TO {name}")
        if staged_path is not None:
            spark.sql(
                f"ALTER TABLE {name} SET LOCATION '{opts['path']}'"
            )
        if parts:
            spark.sql(f"MSCK REPAIR TABLE {name}")
        _DISTRIBUTED[name] = _DISTRIBUTED.pop(target)
        if staged_path is not None:
            _DISTRIBUTED[name]["opts"] = opts
    return True


def _local_fs_path(path: str) -> str:
    from urllib.parse import urlparse

    p = urlparse(path)
    return p.path if p.scheme in ("", "file") else path


def _rmtree_path(path: str) -> None:
    import shutil

    shutil.rmtree(_local_fs_path(path), ignore_errors=True)


def _move_path(src: str, dst: str) -> None:
    import shutil

    shutil.move(_local_fs_path(src), _local_fs_path(dst))


def execute_flink_ddl(spark: SparkSession, sql: str) -> bool:
    """Compile one Flink CREATE TABLE ... WITH (...) statement (or
    CREATE TABLE ... LIKE / CREATE TABLE ... AS SELECT); returns False
    when the statement is not a Flink connector DDL (caller should fall
    through to ``spark.sql``)."""
    st = session_state(spark)
    am = _CREATE_AS_RE.match(sql)
    if am is not None and "'connector'" in sql.replace(" ", "").replace(
        '"', "'"
    ):
        return _execute_create_as(spark, am)
    rm = _REPLACE_AS_RE.match(sql)
    if rm is not None and "'connector'" in sql.replace(" ", "").replace(
        '"', "'"
    ):
        return _execute_create_as(
            spark, rm, replace="create_or_replace" if rm.group("cor")
            else "replace",
        )
    # LIKE first: _CREATE_RE's greedy body/opts groups would otherwise
    # swallow a trailing LIKE clause into the options text
    if re.search(r"\bLIKE\s+\w+\s*(?:\([^()]*\))?\s*$", sql):
        lm = _CREATE_LIKE_RE.match(sql)
        if lm is not None:
            return _execute_create_like(spark, lm)
    # DISTRIBUTED (FLIP-376) then PARTITIONED BY are spliced out before
    # the greedy column-body regex (reference SqlCreateTable clause order:
    # columns, distribution, partitions, WITH)
    dist: dict | None = None
    dm = _DISTRIBUTED_RE.search(sql)
    if dm and (dm.group("cols") or dm.group("n")):
        dist = {
            "kind": (dm.group("kind") or "").upper(),
            "cols": [
                c.strip()
                for c in (dm.group("cols") or "").split(",")
                if c.strip()
            ],
            "buckets": int(dm.group("n")) if dm.group("n") else None,
        }
        sql = sql[: dm.start()] + ")" + sql[dm.end():]
    parts: list[str] = []
    pm = _PARTITIONED_RE.search(sql)
    if pm:
        parts = [c.strip() for c in pm.group("parts").split(",") if c.strip()]
        sql = sql[: pm.start()] + ")" + sql[pm.end():]
    m = _CREATE_RE.match(sql)
    if m is None:
        return False
    if "'connector'" not in sql.replace(" ", "").replace('"', "'"):
        return False
    name = m.group("name")
    opts = _split_options(m.group("opts"))
    _reject_reserved_opts(opts)
    cols, watermark = _parse_columns(m.group("body"))
    if dist is not None:
        return _execute_create_distributed(
            spark, name, cols, watermark, dist, opts, parts,
            if_not_exists=bool(
                re.match(
                    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+IF\s+NOT"
                    r"\s+EXISTS",
                    m.string, re.I,
                )
            ),
        )
    schema_ddl = ", ".join(f"{c} {t}" for c, t in cols)
    connector = opts.get("connector", "").lower()
    if parts:
        declared = {c for c, _t in cols}
        bad = [p for p in parts if p not in declared]
        if bad:
            raise DdlError(
                f"PARTITIONED BY columns {bad} are not declared columns"
            )
        if connector != "filesystem":
            raise DdlError("PARTITIONED BY requires the filesystem connector")
        opts[_PART_KEY] = ",".join(parts)

    if connector == "filesystem":
        fmt = opts.get("format", "parquet").lower()
        path = opts.get("path")
        if not path:
            raise DdlError("filesystem connector requires a 'path' option")
        if fmt not in ("parquet", "csv", "json", "orc"):
            raise DdlError(f"unsupported filesystem format {fmt!r}")
        # A declared path that does not exist yet is a fresh sink table —
        # materialize it as an empty directory so the view resolves (the
        # reference's catalog likewise registers the table before any
        # writer produces files).
        if not path.startswith(("s3://", "hdfs://")) and not os.path.exists(path):
            os.makedirs(path, exist_ok=True)
        st.tables[name] = (fmt, path, schema_ddl, opts)
        reader, _ = fs_reader(spark, name)
        df = reader.load(path)
    elif connector == "datagen":
        df = _datagen_df(spark, cols, opts)
        st.tables[name] = ("datagen", opts, cols)
    else:
        raise DdlError(
            f"unsupported connector {connector!r} — supported: filesystem "
            "(parquet/csv/json/orc), datagen"
        )

    df.createOrReplaceTempView(name)
    if watermark:
        st.watermarks[name] = watermark
    return True


_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?P<name>\w+)\s*"
    r"(?:PARTITION\s*\((?P<static>[^)]*)\)\s*)?"
    r"(?:\((?P<cols>[\w\s,`]+)\)\s*)?"
    r"(?P<select>(?:SELECT|VALUES|TABLE|WITH)\b.*)$",
    re.I | re.S,
)

_VALUES_RE = re.compile(r"VALUES\b", re.I)


def execute_flink_insert(spark: SparkSession, sql: str):
    """``INSERT INTO|OVERWRITE <ddl table> SELECT ...`` — the reference's
    sink path for a declared connector table (SqlInsert / filesystem
    DynamicTableSink; OVERWRITE is the reference's batch filesystem
    replace mode, SupportsOverwrite). INTO appends to the table's path in
    its declared format, OVERWRITE replaces it; either way the view is
    re-registered so subsequent reads see the new rows. Returns None when
    the statement is not an insert into a DDL table (caller falls through
    to ``spark.sql``)."""
    st = session_state(spark)
    m = _INSERT_RE.match(sql)
    if m is None or m.group("name") not in st.tables:
        return None
    name = m.group("name")
    if st.tables[name][0] == "datagen":
        raise DdlError(f"datagen table {name!r} is a source — INSERT unsupported")
    # VALUES rows / TABLE refs / CTEs are queries in their own right
    # (reference SqlInsert accepts any query source, incl. VALUES — r7)
    out = spark.sql(m.group("select"))
    # POSITIONAL column mapping with casts to the declared schema (the
    # reference's SqlInsert semantics; parquet reads back BY NAME, so an
    # expression-named select column would otherwise round-trip as NULL)
    declared = _schema_ddl_cols(st.tables[name][2])
    static: dict[str, str] = {}
    if m.group("static"):
        # static partition spec (reference SqlInsert partition clause):
        # the SELECT provides the remaining columns positionally; the
        # spec's literals fill the named partition columns
        pcols = set(part_cols(spark, name))
        try:
            static = parse_kv_spec(m.group("static"))
        except ValueError as e:
            raise DdlError(str(e)) from None
        bad = [k for k in static if k not in pcols]
        if bad:
            raise DdlError(
                f"INSERT PARTITION column(s) {bad} not in "
                f"{name}'s PARTITIONED BY ({sorted(pcols)})"
            )
    target = [(n, t) for n, t in declared if n not in static]
    if m.group("cols"):
        # explicit column list (SqlInsert's targetColumnList, r7):
        # the query fills the NAMED columns; every other non-static
        # column is NULL-padded (the reference's partial-insert rule)
        listed = [
            c.strip().strip("`")
            for c in m.group("cols").split(",") if c.strip()
        ]
        by_name_all = dict(declared)
        bad = [c for c in listed if c not in by_name_all]
        if bad:
            raise DdlError(
                f"INSERT INTO {name}: unknown column(s) {bad} in the "
                f"column list (declared: {[n for n, _ in declared]})"
            )
        dup = {c for c in listed if listed.count(c) > 1}
        if dup:
            raise DdlError(
                f"INSERT INTO {name}: duplicate column(s) {sorted(dup)} "
                "in the column list"
            )
        overlap = [c for c in listed if c in static]
        if overlap:
            raise DdlError(
                f"INSERT INTO {name}: column(s) {overlap} appear in BOTH "
                "the column list and the static PARTITION spec"
            )
        if len(out.columns) != len(listed):
            raise DdlError(
                f"INSERT INTO {name}: {len(out.columns)} query columns "
                f"for {len(listed)} listed columns"
            )
        out = out.toDF(*listed)
        for n2, t2 in target:
            if n2 not in listed:
                out = out.withColumn(n2, F.lit(None).cast(t2))
        out = out.select(*[n2 for n2, _t2 in target])
    if len(out.columns) != len(target):
        raise DdlError(
            f"INSERT INTO {name}: {len(out.columns)} select columns for "
            f"{len(target)} expected columns"
            + (f" (static partition fills {sorted(static)})" if static else "")
        )
    # toDF is PURELY positional — F.col(old_name) would mis-parse
    # expression-generated names containing dots like "(id * 1.5)"
    out = out.toDF(*[n for n, _ in target])
    by_name = dict(declared)
    for k, v in static.items():
        out = out.withColumn(k, F.lit(v).cast(by_name[k]))
    out = out.select(*[F.col(n).cast(t).alias(n) for n, t in declared])
    if _VALUES_RE.match(m.group("select")):
        # A VALUES list is spread over every core; unmerged, a 3-row
        # insert writes one small file per core, and every later scan
        # of the table pays for each of them.
        out = out.coalesce(1)
    mode = "overwrite" if m.group("mode").upper() == "OVERWRITE" else "append"
    writer, _fmt, path = fs_writer(spark, out, name)
    writer.mode(mode).save(path)
    refresh_table_view(spark, name)
    return spark.sql("SELECT 'OK' AS result")


def stream_ddl_table(spark: SparkSession, name: str) -> DataFrame:
    """Streaming scan of a DDL-declared filesystem table, with its declared
    WATERMARK applied — the reference's streaming-mode read of the same
    catalog table."""
    st = session_state(spark)
    if name not in st.tables or st.tables[name][0] == "datagen":
        raise DdlError(f"{name!r} was not declared via filesystem DDL")
    fmt, path, schema_ddl, opts = st.tables[name]
    reader = spark.readStream.format(fmt).schema(schema_ddl)
    for k, v in _fs_read_opts(opts, fmt).items():
        reader = reader.option(k, v)
    df = reader.load(path)
    if name in st.watermarks:
        col, delay = st.watermarks[name]
        # Watermarks need a TIMESTAMP column; a BIGINT event-time column is
        # this engine's epoch-nanos convention (the fixtures' TIMESTAMP(NANOS)
        # read under nanosAsLong) — normalize exactly like catalog/stream_table.
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        df = df.withWatermark(col, delay)
    return df
