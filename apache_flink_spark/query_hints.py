"""Flink SQL query hints — join-strategy hints + dynamic table options.

Reference parity: ``flink-table-planner/src/main/java/org/apache/flink/
table/planner/hint/JoinStrategy.java`` (BROADCAST / SHUFFLE_HASH /
SHUFFLE_MERGE / NEST_LOOP / LOOKUP) and ``FlinkHints.java``
(``OPTIONS('k'='v')`` dynamic table options, ``STATE_TTL``). Flink users
steer physical join strategy and per-scan connector options with
``/*+ ... */`` hints; this module compiles them onto Spark:

- **Join-strategy hints translate to Catalyst's hint vocabulary** (Spark
  ``JoinStrategyHint``): ``BROADCAST``→``BROADCAST``,
  ``SHUFFLE_HASH``→``SHUFFLE_HASH``, ``SHUFFLE_MERGE``→``MERGE``,
  ``NEST_LOOP``→``SHUFFLE_REPLICATE_NL``. Catalyst honors these natively —
  no physical machinery of ours; the translation exists because Spark
  silently IGNORES unknown hint names (a warning only), so an untranslated
  ``NEST_LOOP`` would change the plan silently. Semantics are unchanged by
  construction: strategy hints steer the physical join only.
- **``OPTIONS('k'='v')`` on a DDL-declared filesystem/datagen table**
  re-scans that table with the merged options under a statement-scoped
  view (the reference's ``DynamicTableOptions`` — per-query option
  override without re-declaring the table). Hinting a table that was not
  declared via the connector DDL errors loudly, as the reference does for
  tables whose factory forbids dynamic options.
- **``LOOKUP(...)`` and ``STATE_TTL(...)`` are stripped** (with the rest
  of the block preserved): they tune operator internals that this engine
  exposes as explicit API parameters (``lookup.py``'s cache/async/retry
  knobs; the stateful operators' ``ttl_us``). Stripping is loud-safe:
  neither changes result semantics in the reference.

All rewrites are string-literal-safe: hint blocks are located by a scanner
that skips ``'...'`` literals (including doubled quotes), never by a bare
regex over the whole statement.
"""

from __future__ import annotations

import re
from typing import Optional

from apache_flink_spark.session import session_state
from apache_flink_spark.statement import closing_paren, in_literal, literal_spans

__all__ = ["rewrite_flink_hints", "HintError"]


class HintError(ValueError):
    """Loud failure for a hint the engine cannot honor."""


# Flink join-strategy name -> Spark JoinStrategyHint name.
_JOIN_HINT_MAP = {
    "BROADCAST": "BROADCAST",
    "SHUFFLE_HASH": "SHUFFLE_HASH",
    "SHUFFLE_MERGE": "MERGE",
    "NEST_LOOP": "SHUFFLE_REPLICATE_NL",
}
# Hints that configure operator internals owned by explicit engine APIs.
_STRIPPED = {"LOOKUP", "STATE_TTL"}

_HINT_CALL_RE = re.compile(r"(?P<name>[A-Za-z_]\w*)\s*\(", re.S)


def _find_hint_blocks(sql: str) -> list[tuple[int, int]]:
    """Spans of ``/*+ ... */`` blocks outside string literals."""
    spans, out = literal_spans(sql), []
    i = sql.find("/*+")
    while i >= 0:
        if in_literal(spans, i):
            i = sql.find("/*+", i + 1)
            continue
        end = sql.find("*/", i + 3)
        if end < 0:
            raise HintError("unterminated hint block /*+ ...")
        out.append((i, end + 2))
        i = sql.find("/*+", end + 2)
    return out


def _split_hint_calls(body: str) -> list[tuple[str, str]]:
    """Parse ``NAME(args), NAME(args) ...`` into (name, args) pairs,
    honoring nested parens and string literals inside args."""
    out = []
    i, n = 0, len(body)
    while i < n:
        m = _HINT_CALL_RE.match(body, i)
        if m is None:
            if body[i].isspace() or body[i] == ",":
                i += 1
                continue
            raise HintError(f"unparseable hint text at: {body[i:i+40]!r}")
        try:
            j = closing_paren(body, m.end() - 1) + 1
        except ValueError:
            raise HintError(
                f"unbalanced parens in hint {m.group('name')}"
            ) from None
        out.append((m.group("name").upper(), body[m.end():j - 1]))
        i = j
    return out


_OPT_PAIR_RE = re.compile(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'")


def _parse_options(args: str) -> dict[str, str]:
    pairs = _OPT_PAIR_RE.findall(args)
    if not pairs and args.strip():
        raise HintError(f"OPTIONS expects 'k'='v' pairs, got: {args!r}")
    return {k.replace("''", "'"): v.replace("''", "'") for k, v in pairs}


def _apply_dynamic_options(spark, table: str, options: dict) -> str:
    """Re-register a DDL-declared table with per-statement option
    overrides; returns the statement-scoped view name to substitute."""
    spec = session_state(spark).tables.get(table)
    if spec is None:
        raise HintError(
            f"OPTIONS hint on {table!r}: dynamic table options require a "
            "table declared via the connector DDL (reference: the table's "
            "factory must accept dynamic options)"
        )
    view = f"__hint_opts_{table}_{abs(hash(tuple(sorted(options.items())))) % 10**8}"
    if spec[0] == "datagen":
        _, base_opts, cols = spec
        merged = {**base_opts, **options}
        from apache_flink_spark.ddl import _datagen_df

        _datagen_df(spark, cols, merged).createOrReplaceTempView(view)
        return view
    known = {"format", "path", "csv.include-header", "csv.field-delimiter"}
    unknown = sorted(k for k in options if k not in known)
    if unknown:
        raise HintError(
            f"OPTIONS hint on {table!r}: unsupported option(s) "
            f"{unknown} for the filesystem connector"
        )
    # merge over the DECLARED options (fs_reader) — defaults-only re-read
    # silently re-parses csv wrong (r6 review finding)
    from apache_flink_spark.ddl import fs_reader

    reader, new_path = fs_reader(spark, table, overrides=options)
    try:
        reader.load(new_path).createOrReplaceTempView(view)
    except Exception as ex:  # surface the connector error with hint context
        raise HintError(
            f"OPTIONS hint on {table!r} failed to re-scan {new_path!r}: {ex}"
        ) from ex
    return view


# ``<table> /*+ OPTIONS(...) */ [AS alias]`` — the hint follows the table
# name (Calcite table-hint position). Read BACKWARD from the hint block
# start (literal-safe: the block spans came from the scanner); the
# two-token form catches ``<table> AS? <alias> /*+ OPTIONS */`` written
# alias-first and resolves the TABLE, not the alias (r6 review finding).
_TABLE_REF_RE = re.compile(r"([A-Za-z_][\w.]*)\s*$")
_TABLE_ALIAS_RE = re.compile(
    r"([A-Za-z_][\w.]*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s*$", re.I
)


def rewrite_flink_hints(spark, sql: str) -> str:
    """Translate every Flink hint block in ``sql`` for Spark; returns the
    rewritten statement (identical when no ``/*+`` present)."""
    if "/*+" not in sql:
        return sql
    # Process right-to-left so recorded spans stay valid while editing.
    for start, end in reversed(_find_hint_blocks(sql)):
        body = sql[start + 3:end - 2]
        kept: list[str] = []
        for name, args in _split_hint_calls(body):
            if name == "OPTIONS":
                ref = _TABLE_REF_RE.search(sql, 0, start)
                if ref is None:
                    raise HintError(
                        "OPTIONS hint must directly follow a table reference"
                    )
                tables = session_state(spark).tables
                if ref.group(1) not in tables:
                    # maybe '<table> [AS] <alias> /*+ OPTIONS */' — the
                    # trailing token is the alias; resolve the table
                    am = _TABLE_ALIAS_RE.search(sql, 0, start)
                    if am and am.group(1) in tables and \
                            am.group(1).upper() != "FROM" and \
                            am.group(2).upper() != "AS":
                        ref = am
                view = _apply_dynamic_options(
                    spark, ref.group(1), _parse_options(args)
                )
                # swap the table name, drop this hint call
                sql = sql[:ref.start(1)] + view + sql[ref.end(1):start] \
                    + sql[start:]
                shift = len(view) - (ref.end(1) - ref.start(1))
                start += shift
                end += shift
            elif name in _JOIN_HINT_MAP:
                kept.append(f"{_JOIN_HINT_MAP[name]}({args})")
            elif name in _STRIPPED:
                continue
            else:
                raise HintError(
                    f"unsupported hint {name!r} — supported: "
                    f"{sorted(_JOIN_HINT_MAP)} + OPTIONS + "
                    f"{sorted(_STRIPPED)} (stripped)"
                )
        repl = f"/*+ {', '.join(kept)} */" if kept else ""
        sql = sql[:start] + repl + sql[end:]
    return sql
