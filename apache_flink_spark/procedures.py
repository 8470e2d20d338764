"""Stored procedures — reference ``Procedure`` / ``CALL`` parity.

Reference parity: ``flink-table-common .../procedures/Procedure.java:28``
(catalog-provided objects with a ``call(ProcedureContext, args...) ->
rows`` method; the canonical example in its javadoc is a compact/rewrite
maintenance procedure), executed via the SQL ``CALL`` statement and
listed by ``SHOW PROCEDURES``. Procedures cannot be user-declared in SQL
— they come from the catalog — so this module mirrors that: a registry
the engine populates, a ``CALL catalog.proc(args)`` route in the facade,
and a ``sys`` namespace of built-ins chosen for what a 100 TB deployment
actually calls procedures for:

- ``sys.compact_files(path[, target_mb])`` — rewrite a parquet directory
  into ~target-size files. The small-files problem is THE maintenance
  task at scale (every streaming sink fragments its output); compaction
  is one distributed re-shuffle write, never a driver-side copy.
- ``sys.table_stats(table)`` — row count + file count + bytes for a
  registered table (ANALYZE-lite, returned as rows not conf).
- ``sys.checkpoint_info(path)`` — offsets/commits of a Structured
  Streaming checkpoint (the State-Processor-adjacent "what did this job
  last commit" question).

Each procedure is a Python callable ``fn(ctx, *args) -> (schema_ddl,
rows)`` where ``ctx.spark`` is the session — the ProcedureContext analog.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
from dataclasses import dataclass
from typing import Callable

from apache_flink_spark.statement import split_top_level

__all__ = [
    "ProcedureError",
    "ProcedureContext",
    "register_procedure",
    "list_procedures",
    "try_handle_call_statement",
]


class ProcedureError(ValueError):
    """Loud failure for CALL misuse (unknown procedure, bad args)."""


@dataclass
class ProcedureContext:
    spark: object


_PROCEDURES: dict[str, Callable] = {}


def register_procedure(name: str, fn: Callable) -> None:
    """Register ``fn(ctx, *args) -> (schema_ddl, rows)`` under
    ``name`` (dotted catalog path, e.g. ``sys.compact_files``)."""
    _PROCEDURES[name.lower()] = fn


def list_procedures() -> list[str]:
    return sorted(_PROCEDURES)


# -- built-ins ----------------------------------------------------------------

def _compact_files(ctx: ProcedureContext, path: str, target_mb: int = 128):
    """Compact a parquet directory to ~``target_mb`` MiB files: one
    distributed read -> repartition -> write into a staging dir, then an
    atomic directory swap. Data volume never touches the driver."""
    files = [
        f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True)
        if os.path.isfile(f)
    ]
    if not files:
        raise ProcedureError(f"compact_files: no parquet files under {path!r}")
    # Hive-partitioned layout: derive the k=v directory chain from the
    # file paths and PRESERVE it — a flat rewrite would strip the
    # partition columns into data files and leave a mixed layout that
    # partition discovery rejects (r6 review finding #2).
    def _pchain(f: str) -> list[str]:
        segs = os.path.relpath(os.path.dirname(f), path).split(os.sep)
        out = []
        for s in segs:
            if "=" not in s:
                break
            out.append(s.split("=", 1)[0])
        return out

    pcols = _pchain(files[0])
    if any(_pchain(f) != pcols for f in files[1:]):
        raise ProcedureError(
            f"compact_files: mixed partition layouts under {path!r} — "
            "files disagree on the k=v directory chain"
        )
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (int(target_mb) * 1024 * 1024)))
    staging = path.rstrip("/") + ".__compacting__"
    shutil.rmtree(staging, ignore_errors=True)
    if pcols:
        # Partition values must round-trip as EXACT directory-name strings:
        # type inference would canonicalize day='01' to int 1, silently
        # rewriting the value AND leaving the stale day=01 dir to resurface
        # as a phantom partition (r6 review). Strings write back to the
        # identical k=v dirs; readers apply their declared schemas on top.
        infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = ctx.spark.conf.get(infer_key, "true")
        ctx.spark.conf.set(infer_key, "false")
        try:
            # distribute by partition key so each output task holds whole
            # partitions (≈1 file per partition dir after the write)
            (
                ctx.spark.read.parquet(path)
                .repartition(n_out, *pcols)
                .write.mode("overwrite")
                .partitionBy(*pcols)
                .parquet(staging)
            )
        finally:
            ctx.spark.conf.set(infer_key, prev)
    else:
        df = ctx.spark.read.parquet(path)
        df.repartition(n_out).write.mode("overwrite").parquet(staging)
    backup = path.rstrip("/") + ".__precompact__"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staging, path)
    if pcols:
        # re-create partition dirs that held no data (ADD PARTITION
        # registrations) — the rewrite only materializes non-empty ones
        for root, _dirs, fnames in os.walk(backup):
            rel = os.path.relpath(root, backup)
            if rel != "." and all("=" in s for s in rel.split(os.sep)):
                os.makedirs(os.path.join(path, rel), exist_ok=True)
    shutil.rmtree(backup)
    # invalidate cached file listings (r6 review finding: a view over
    # this path would otherwise hold the pre-compaction file index and
    # throw FileNotFound), and re-register any DDL table on this path
    ctx.spark.catalog.refreshByPath(path)
    from apache_flink_spark.ddl import refresh_table_view
    from apache_flink_spark.session import session_state

    for tname, spec in list(session_state(ctx.spark).tables.items()):
        if spec[0] != "datagen" and os.path.normpath(
            spec[1]
        ) == os.path.normpath(path):
            refresh_table_view(ctx.spark, tname)
    after = [
        f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True)
        if os.path.isfile(f)
    ]
    return (
        "files_before bigint, files_after bigint, bytes bigint",
        [(len(files), len(after), total)],
    )


def _table_stats(ctx: ProcedureContext, table: str):
    df = ctx.spark.table(table)
    n = df.count()
    try:
        files = df.inputFiles()
        nbytes = sum(
            os.path.getsize(f.replace("file:", "").replace("//", "/"))
            for f in files
            if os.path.exists(f.replace("file:", "").replace("//", "/"))
        )
    except Exception:
        files, nbytes = [], 0
    return (
        "table_name string, row_count bigint, file_count bigint, "
        "total_bytes bigint",
        [(table, n, len(files), nbytes)],
    )


def _checkpoint_info(ctx: ProcedureContext, path: str):
    rows = []
    for kind in ("offsets", "commits"):
        d = os.path.join(path, kind)
        if not os.path.isdir(d):
            continue
        batches = sorted(
            (f for f in os.listdir(d) if f.isdigit()), key=int
        )
        for b in batches:
            with open(os.path.join(d, b)) as f:
                lines = [ln.strip() for ln in f if ln.strip()]
            detail = lines[-1] if lines else ""
            try:  # pretty-compact any JSON payload line
                detail = json.dumps(json.loads(detail), sort_keys=True)
            except Exception:
                pass
            rows.append((kind, int(b), detail[:500]))
    if not rows:
        raise ProcedureError(
            f"checkpoint_info: {path!r} has no offsets/commits — not a "
            "Structured Streaming checkpoint"
        )
    return ("kind string, batch_id bigint, detail string", rows)


register_procedure("sys.compact_files", _compact_files)
register_procedure("sys.table_stats", _table_stats)
register_procedure("sys.checkpoint_info", _checkpoint_info)


# -- CALL routing -------------------------------------------------------------

_CALL_RE = re.compile(
    r"^\s*CALL\s+(?P<name>[\w.]+)\s*\((?P<args>.*)\)\s*$", re.I | re.S
)
_SHOW_RE = re.compile(r"^\s*SHOW\s+PROCEDURES\s*$", re.I)


def _parse_args(body: str) -> list:
    """Positional literal arguments: quoted strings, ints, floats,
    TRUE/FALSE, split on the commas outside literals."""
    out = []
    for a in split_top_level(body):
        if a.startswith("'") and a.endswith("'"):
            out.append(a[1:-1].replace("''", "'"))
        elif a.upper() in ("TRUE", "FALSE"):
            out.append(a.upper() == "TRUE")
        elif re.fullmatch(r"-?\d+", a):
            out.append(int(a))
        elif re.fullmatch(r"-?\d+\.\d*", a):
            out.append(float(a))
        else:
            raise ProcedureError(f"unsupported CALL argument literal: {a!r}")
    return out


def try_handle_call_statement(spark, sql: str):
    """Route ``CALL name(args)`` / ``SHOW PROCEDURES``; returns a
    DataFrame or None when the statement is neither."""
    if _SHOW_RE.match(sql):
        return spark.createDataFrame(
            [(n,) for n in list_procedures()], "procedure_name string"
        )
    m = _CALL_RE.match(sql)
    if m is None:
        return None
    name = m.group("name").lower()
    fn = _PROCEDURES.get(name)
    if fn is None:
        raise ProcedureError(
            f"procedure {m.group('name')!r} does not exist — "
            f"SHOW PROCEDURES lists: {list_procedures()}"
        )
    args = _parse_args(m.group("args"))
    try:
        schema, rows = fn(ProcedureContext(spark=spark), *args)
    except TypeError as ex:
        raise ProcedureError(
            f"CALL {name}: argument mismatch — {ex}"
        ) from ex
    return spark.createDataFrame(rows, schema)
