"""One statement classifier and one rewrite pipeline for TableEnvironment.sql.

The reference parses a statement once into one ``SqlNode`` that becomes
one ``Operation`` (TableEnvironmentImpl.executeSql -> ParserImpl.parse).
Here a statement is

1. normalised once: leading and trailing whitespace and ``--`` /
   ``/* */`` comments, and a trailing ``;``, outside literals, are
   stripped (:func:`classify`);
2. classified once: its leading keywords, with ``OR REPLACE``,
   ``TEMPORARY`` and ``SYSTEM`` skipped, are looked up in :data:`ROUTES`,
   longest prefix first, which names exactly one route;
3. rewritten once when its route carries a query (:data:`REWRITTEN_ROUTES`):
   :data:`REWRITES` turns the Flink SQL surfaces Spark lacks into Spark SQL,
   each step gated by a keyword outside literals (:func:`rewrite`);
4. run by its route's handler (:data:`HANDLERS`); a handler that returns
   None, and a route without one, falls through to ``spark.sql``.

Handlers read the functions they call off their modules at call time, so
a function replaced by attribute (a tracing wrapper) is the one that runs.
"""

from __future__ import annotations

import bisect
import importlib
import math
import re
from typing import NamedTuple

from apache_flink_spark.session import session_state

# -- scanning -----------------------------------------------------------------

# string literals, and `quoted identifiers`, which may hold a quote char
QUOTED = r"'(?:[^']|'')*'?|\"(?:[^\"]|\"\")*\"?|`[^`]*`?"
_QUOTED_RE = re.compile(QUOTED)


def literal_spans(sql: str) -> list[tuple[int, int]]:
    """``(open, close)`` quote indices of every '...' and "..." literal in
    ``sql``, in order. A doubled quote escapes itself; an unclosed literal
    runs to the end. Text inside a literal is data, not syntax, so no
    rewrite may match there."""
    return [
        (m.start(), m.end() - 1)
        for m in _QUOTED_RE.finditer(sql) if m.group()[0] != "`"
    ]


def in_literal(spans: list[tuple[int, int]], pos: int) -> bool:
    """True when ``pos`` falls inside one of ``spans``, quotes included."""
    i = bisect.bisect_right(spans, (pos, math.inf)) - 1
    return i >= 0 and pos <= spans[i][1]


def closing_paren(sql: str, open_pos: int) -> int:
    """Index of the ``)`` closing the ``(`` at ``open_pos``; parentheses
    inside literals do not count. ValueError when it never closes."""
    spans, depth = literal_spans(sql), 0
    for i in range(open_pos, len(sql)):
        if sql[i] in "()" and not in_literal(spans, i):
            depth += 1 if sql[i] == "(" else -1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses")


def split_top_level(s: str, opens: str = "(", closes: str = ")") -> list[str]:
    """``s`` split on the commas outside literals and brackets (``opens``
    / ``closes``); parts come back stripped, empty ones dropped."""
    spans, parts, depth, start = literal_spans(s), [], 0, 0
    for i, ch in enumerate(s):
        if ch not in opens + closes + "," or in_literal(spans, i):
            continue
        if ch in opens:
            depth += 1
        elif ch in closes:
            depth -= 1
        elif depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


_WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def keywords(sql: str) -> frozenset[str]:
    """The upper-cased words of ``sql`` outside literals, plus ``/*+``
    when a hint block opens outside them — what the rewrite gates test."""
    bare = _QUOTED_RE.sub(
        lambda m: m.group() if m.group()[0] == "`" else " ", sql
    )
    words = set(_WORD_RE.findall(bare.upper()))
    if "/*+" in bare:
        words.add("/*+")
    return frozenset(words)


# -- classification -----------------------------------------------------------

#: leading keywords -> route: the single place a statement's route is
#: decided. A statement whose head is not listed is a query.
ROUTES: dict[tuple[str, ...], str] = {
    tuple(head.split()): route
    for route, heads in (
        ("set", ("SET", "RESET")),
        ("explain", ("EXPLAIN",)),
        ("plan", ("COMPILE", "EXECUTE PLAN")),
        ("call", ("CALL", "SHOW PROCEDURES")),
        ("jobs", ("SHOW JOBS", "DESC JOB", "DESCRIBE JOB", "STOP JOB")),
        ("statement_set", ("EXECUTE STATEMENT SET",)),
        ("materialized_table", (
            "CREATE MATERIALIZED TABLE", "ALTER MATERIALIZED TABLE",
            "DROP MATERIALIZED TABLE",
        )),
        ("model", (
            "CREATE MODEL", "DROP MODEL", "ALTER MODEL", "SHOW MODELS",
            "SHOW CREATE MODEL", "DESC MODEL", "DESCRIBE MODEL",
        )),
        ("function", ("CREATE FUNCTION", "DROP FUNCTION", "ALTER FUNCTION")),
        ("table_ddl", ("CREATE TABLE", "REPLACE TABLE")),
        ("alter", (
            "ALTER TABLE", "SHOW CREATE TABLE", "SHOW PARTITIONS",
            "SHOW COLUMNS", "DESC", "DESCRIBE",
        )),
        ("catalog", (
            "SHOW", "USE", "LOAD MODULE", "UNLOAD MODULE", "ANALYZE",
            "CREATE CATALOG", "DROP CATALOG", "ALTER CATALOG",
            "CREATE DATABASE", "DROP DATABASE", "ALTER DATABASE",
            "DESC CATALOG", "DESCRIBE CATALOG", "DESC DATABASE",
            "DESCRIBE DATABASE", "DESC FUNCTION", "DESCRIBE FUNCTION",
            "ALTER VIEW", "REMOVE JAR", "DROP TABLE",
        )),
        ("row_level", ("DELETE", "UPDATE", "TRUNCATE")),
        ("insert", ("INSERT",)),
        ("view", ("CREATE VIEW", "DROP VIEW")),
        ("query", ("SELECT", "WITH", "VALUES", "TABLE", "FROM", "(")),
    )
    for head in heads
}

_HEAD_LEN = max(len(h) for h in ROUTES)

#: routes whose statement embeds a query (or names tables a secondary
#: catalog maps), so :data:`REWRITES` runs over them. The others either
#: carry no query or re-enter ``TableEnvironment.sql`` with the query
#: (EXPLAIN, statement-set members, compiled plans, materialized tables).
REWRITTEN_ROUTES = frozenset(
    {"table_ddl", "alter", "catalog", "row_level", "insert", "view", "query"}
)

#: leading verbs of the statements that change session state and return
#: no rows — what the gateway's ``configure_session`` accepts
_CONFIG_VERBS = frozenset(
    {"SET", "RESET", "CREATE", "DROP", "ALTER", "USE", "ADD", "LOAD"}
)

# a /*+ hint */ is syntax, not a comment
_LITERAL_OR_COMMENT_RE = re.compile(
    rf"{QUOTED}|--[^\n]*|/\*(?!\+).*?(?:\*/|$)", re.S
)
_TOKEN_RE = re.compile(r"\s*('(?:[^']|'')*'?|[A-Za-z_]\w*|\S)")


class Statement(NamedTuple):
    #: the statement as written, normalised
    text: str
    #: its leading keywords, upper-cased, skip words dropped
    head: tuple[str, ...]
    route: str
    #: what runs: ``text`` after the rewrites of its route
    sql: str

    @property
    def configures(self) -> bool:
        return bool(self.head) and self.head[0] in _CONFIG_VERBS


def _head(text: str) -> tuple[str, ...]:
    head: list[str] = []
    pos = 0
    while len(head) < _HEAD_LEN:
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            break
        tok, pos = m.group(1).upper(), m.end()
        if head and tok in ("TEMPORARY", "SYSTEM"):
            continue
        if head and tok == "OR":
            nxt = _TOKEN_RE.match(text, pos)
            if nxt and nxt.group(1).upper() == "REPLACE":
                pos = nxt.end()
                continue
        head.append(tok)
    return tuple(head)


def _mask(m: re.Match) -> str:
    """A comment becomes blanks, a literal opaque text of its length."""
    return (" " if m.group()[0] in "-/" else "x") * len(m.group())


def classify(query: str) -> Statement:
    """Normalise ``query`` and give it exactly one route."""
    # literals and comments are read in one pass, left to right: a quote
    # in a comment opens no literal, a '--' in a literal starts no comment
    code = _LITERAL_OR_COMMENT_RE.sub(_mask, query)
    start = len(code) - len(code.lstrip())
    text = query[start:len(code.rstrip("; \t\r\n\f\v"))]
    head = _head(text)
    route = "query"
    for n in range(len(head), 0, -1):
        if head[:n] in ROUTES:
            route = ROUTES[head[:n]]
            break
    return Statement(text, head, route, text)


# -- rewrites -----------------------------------------------------------------
# Each step takes (tenv, sql, route, words) and returns the SQL, unchanged
# when its gate fails; ``words`` is keywords(sql).


def _call(module: str, function: str, *args):
    """``apache_flink_spark.<module>.<function>(*args)``, the function read
    off its module now, so one replaced by attribute is the one that runs."""
    mod = importlib.import_module(f"apache_flink_spark.{module}")
    return getattr(mod, function)(*args)


#: routes whose statement is itself a query (or INSERT/CREATE VIEW over
#: one): the Flink aggregate dialect applies there, never to DDL, where
#: the same words are column types and computed columns
_DIALECT_ROUTES = frozenset({"insert", "view", "query"})

_DIALECT_WORDS = frozenset({
    "AVG", "VAR_POP", "LISTAGG", "COLLECT", "JSON_OBJECTAGG",
    "JSON_ARRAYAGG", "VARCHAR", "GROUPING_ID", "PROCTIME",
})

_WINDOW_PREFIXES = ("TUMBLE", "HOP", "CUMULATE", "SESSION")


def _catalog_identifiers(tenv, sql, route, words):
    from apache_flink_spark import catalogs

    # secondary catalogs map cat.db.tbl (and, in a secondary current
    # catalog, unqualified) names onto their views
    if not session_state(tenv.spark).catalogs and (
        "DEFAULT_CATALOG" not in words
    ):
        return sql
    return catalogs.rewrite_catalog_identifiers(tenv.spark, sql)


def _hints(tenv, sql, route, words):
    if "/*+" not in words:
        return sql
    return _call("query_hints", "rewrite_flink_hints", tenv.spark, sql)


_LATERAL_TABLE_RE = re.compile(r"\bLATERAL\s+TABLE\s*\(", re.I)


def _lateral_table(tenv, sql, route, words):
    """Flink's UDTF call ``[LEFT|CROSS] JOIN LATERAL TABLE(fn(args))`` /
    ``, LATERAL TABLE(fn(args))`` (Calcite's LATERAL TABLE operator) maps
    onto Spark's lateral table-function joins by dropping the ``TABLE(
    ... )`` wrapper: ``LATERAL fn(args)``."""
    if "LATERAL" not in words:
        return sql
    pos = 0
    while True:
        m = _LATERAL_TABLE_RE.search(sql, pos)
        if not m:
            return sql
        if in_literal(literal_spans(sql), m.start()):
            pos = m.end()
            continue
        close = closing_paren(sql, m.end() - 1)
        inner = sql[m.end(): close].strip()
        sql = sql[: m.start()] + "LATERAL " + inner + sql[close + 1:]


def _ptf_calls(tenv, sql, route, words):
    from apache_flink_spark import ptf

    # PTF calls with TABLE arguments (FLIP-440)
    if not ptf._PTFS or "TABLE" not in words:
        return sql
    return ptf.rewrite_ptf_calls(tenv.spark, sql)


def _window_tvfs(tenv, sql, route, words):
    if not any(w.startswith(_WINDOW_PREFIXES) for w in words):
        return sql
    sql = _call("window_tvf", "rewrite_window_tvfs", sql)
    return _call("window_tvf", "rewrite_group_windows", sql)


def _flink_aggregates(tenv, sql, route, words):
    # AVG/VAR_POP argument-typed results, LISTAGG ',' default, COLLECT
    # multisets, JSON_OBJECTAGG KEY VALUE, DISTINCT aggregates over windows
    if route not in _DIALECT_ROUTES or not (
        words & _DIALECT_WORDS or {"DISTINCT", "OVER"} <= words
    ):
        return sql
    return _call("flink_dialect", "rewrite_flink_aggregates", tenv.spark, sql)


def _unnest(tenv, sql, route, words):
    # ARRAY[...] / MAP[...] literals, then UNNEST collection tables
    if route not in _DIALECT_ROUTES or not words & {"UNNEST", "ARRAY", "MAP"}:
        return sql
    return _call("flink_dialect", "rewrite_unnest", tenv.spark, sql)


def _system_time(tenv, sql, route, words):
    """Time travel on a materialized table first; the remaining ``FOR
    SYSTEM_TIME AS OF`` clauses are temporal joins."""
    if "SYSTEM_TIME" not in words:
        return sql
    if hasattr(tenv, "_mt_manager"):
        sql = tenv._mt_manager.rewrite_time_travel(sql)

    def columns_of(name: str):
        try:
            return tenv.spark.table(name).columns
        except Exception:
            return None

    return _call("temporal_sql", "rewrite_system_time_joins", sql, columns_of)


def _ml_predict(tenv, sql, route, words):
    if "ML_PREDICT" not in words:
        return sql
    return _call("models", "rewrite_ml_predict", tenv, sql)


def _match_recognize(tenv, sql, route, words):
    if "MATCH_RECOGNIZE" not in words:
        return sql
    return _call("match_recognize", "rewrite_match_recognize", tenv.spark, sql)


#: the text rewrites, in application order. ML_PREDICT and
#: MATCH_RECOGNIZE substitute a temp view for the subtree they compile, so
#: every query-carrying route (INSERT, CTAS, views, statement-set members)
#: gets them.
REWRITES = (
    _catalog_identifiers,
    _hints,
    _lateral_table,
    _ptf_calls,
    _window_tvfs,
    _flink_aggregates,
    _unnest,
    _system_time,
    _ml_predict,
    _match_recognize,
)


def rewrite(tenv, stmt: Statement) -> str:
    """``stmt.text`` with every gated step of :data:`REWRITES` applied
    once, in order."""
    sql, words = stmt.text, keywords(stmt.text)
    for step in REWRITES:
        out = step(tenv, sql, stmt.route, words)
        if out != sql:
            sql, words = out, keywords(out)
    return sql


# -- handlers -----------------------------------------------------------------
# Each takes (tenv, stmt) and returns a DataFrame, or None to fall through
# to spark.sql(stmt.sql).


def _ok(tenv):
    return tenv.spark.sql("SELECT 'OK' AS result")


# Flink SQL-client SET/RESET: quoted keys, e.g. SET 'table.local-time-zone'
# = 'UTC'. The grammar is per-op (SET requires the ='value'; RESET forbids
# it) so malformed variants get Spark's parse error instead of silently
# half-applying.
_SET_RE = re.compile(
    r"^(?:(?P<set>SET)(?:\s+'(?P<key>[^']+)'\s*=\s*'(?P<val>[^']*)')?"
    r"|(?P<reset>RESET)(?:\s+'(?P<rkey>[^']+)')?)$",
    re.I,
)


def _set(tenv, stmt):
    """``SET 'key' = 'value'`` / ``RESET ['key']`` (SqlSet/SqlReset):
    keys apply to the session conf, the scope the reference's TableConfig
    gives them. Bare SET lists the conf; bare RESET resets everything."""
    m = _SET_RE.match(stmt.sql)
    if m is None:
        return None
    conf = tenv.spark.conf
    if m.group("reset"):
        if m.group("rkey") is None:
            return tenv.spark.sql("RESET")
        conf.unset(m.group("rkey"))
    elif m.group("key") is None:
        return tenv.spark.sql("SET")
    else:
        conf.set(m.group("key"), m.group("val"))
    return _ok(tenv)


# Flink SqlRichExplain grammar: EXPLAIN [detail[, detail]*] [PLAN FOR] stmt.
_EXPLAIN_RE = re.compile(
    r"""^EXPLAIN\s+
        (?P<details>(?:(?:ESTIMATED_COST|CHANGELOG_MODE|PLAN_ADVICE|
                       JSON_EXECUTION_PLAN)\s*,?\s*)+)?
        (?:PLAN\s+FOR\s+)?
        (?P<stmt>(?:SELECT|INSERT|WITH|VALUES|TABLE)\b.*)$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)
_SPARK_EXPLAIN_RE = re.compile(
    r"^(EXPLAIN\s+(?:(?:EXTENDED|FORMATTED|CODEGEN|COST)\s+)?)(.+)$",
    re.I | re.S,
)


def _explain(tenv, stmt):
    """``EXPLAIN [details] [PLAN FOR] <stmt>`` (TableEnvironment.explainSql).
    Any detail flag renders Catalyst's parsed -> physical chain, the
    analog of the reference's plan variants. One row, column ``result``."""
    m = _EXPLAIN_RE.match(stmt.sql)
    if m is None:
        # Spark's EXPLAIN [mode] <statement> plans the rewritten statement
        sm = _SPARK_EXPLAIN_RE.match(stmt.sql)
        if sm is None:
            return None
        inner = rewrite(tenv, classify(sm.group(2)))
        return tenv.spark.sql(sm.group(1) + inner)
    extended = bool(m.group("details"))
    query = m.group("stmt")
    if query[:6].upper() != "INSERT":
        plan = tenv.explain_sql(query, extended=extended)
    else:
        # EXPLAIN must never execute the write: plan the SELECT of a
        # DDL-declared sink, and let Spark's EXPLAIN plan any other insert
        from apache_flink_spark.ddl import _INSERT_RE

        im = _INSERT_RE.match(query)
        if im and im.group("name") in session_state(tenv.spark).tables:
            plan = tenv.explain_sql(im.group("select"), extended=extended)
        else:
            kw = "EXPLAIN EXTENDED " if extended else "EXPLAIN "
            plan = tenv.spark.sql(kw + query).collect()[0][0]
    return tenv.spark.createDataFrame([(plan,)], "result string")


_SHOW_JOBS_RE = re.compile(r"^SHOW\s+JOBS$", re.I)
_DESCRIBE_JOB_RE = re.compile(r"^DESC(?:RIBE)?\s+JOB\s+'(?P<id>[^']+)'$", re.I)
_STOP_JOB_RE = re.compile(
    r"^STOP\s+JOB\s+'(?P<id>[^']+)'"
    r"(?P<sp>\s+WITH\s+SAVEPOINT)?(?:\s+WITH\s+DRAIN)?$",
    re.I,
)

#: streaming-query id -> first-seen wall clock. Spark's StreamingQuery
#: does not expose its start instant, so the first time job introspection
#: (or STOP JOB) observes a query stands in for it — for jobs started and
#: inspected through the facade that IS the start time.
_JOB_SEEN: dict[str, object] = {}


def _job_rows(spark, queries):
    from datetime import datetime

    return spark.createDataFrame(
        [
            (
                q.id,
                q.name or "",
                "RUNNING" if q.isActive else "FINISHED",
                _JOB_SEEN.setdefault(q.id, datetime.now()),
            )
            for q in queries
        ],
        "`job id` string, `job name` string, status string, "
        "`start time` timestamp",
    )


def _jobs(tenv, stmt):
    """SHOW JOBS / DESCRIBE JOB / STOP JOB (SqlShowJobs, SqlDescribeJob,
    SqlStopJob; gateway OperationExecutor.callShowJobsOperation): the
    engine's jobs are the session's Structured Streaming queries."""
    spark, sql = tenv.spark, stmt.sql
    if _SHOW_JOBS_RE.match(sql):
        return _job_rows(spark, spark.streams.active)
    m = _DESCRIBE_JOB_RE.match(sql) or _STOP_JOB_RE.match(sql)
    if m is None:
        return None
    job = m.group("id")
    found = [q for q in spark.streams.active if job in (q.id, q.name or "")]
    if m.re is _DESCRIBE_JOB_RE:
        if not found:
            raise ValueError(
                f"Described job {job!r} does not exist in the cluster."
            )
        return _job_rows(spark, found[:1])
    if not found:
        raise ValueError(
            f"no running job {job!r} — SHOW JOBS lists active ones"
        )
    target, savepoint = found[0], ""
    if m.group("sp"):
        # the savepoint analog: state is already durable in the query's
        # checkpoint; the run and last committed batch are the restore
        # coordinates
        lp = target.lastProgress or {}
        savepoint = (
            f"runId={lp.get('runId', target.runId)};"
            f"batchId={lp.get('batchId', -1)}"
        )
    target.stop()
    return spark.createDataFrame(
        [(job, "STOPPED", savepoint)],
        "job_id string, status string, savepoint string",
    )


_STMT_SET_RE = re.compile(
    r"^EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+(?P<body>.+?)\s*;?\s*END$",
    re.I | re.S,
)
_INSERT_TARGET_RE = re.compile(r"INSERT\s+(?:INTO|OVERWRITE)\s+(\S+)", re.I)


def _statement_set(tenv, stmt):
    """``EXECUTE STATEMENT SET BEGIN <insert>; ... END`` (SqlStatementSet,
    the SQL twin of create_statement_set): every member must be an INSERT;
    each re-enters ``tenv.sql`` and reports its target."""
    m = _STMT_SET_RE.match(stmt.sql)
    if m is None:
        return None
    from apache_flink_spark.sql_client import split_statements

    inserts = split_statements(m.group("body"))
    if not inserts:
        raise ValueError("empty STATEMENT SET")
    rows = []
    for i, ins in enumerate(inserts):
        member = classify(ins)
        if member.route != "insert":
            raise ValueError(
                "STATEMENT SET members must be INSERT statements; "
                f"got: {member.text[:60]!r}"
            )
        tenv.sql(member.text)
        tgt = _INSERT_TARGET_RE.match(member.text)
        rows.append((i, tgt.group(1) if tgt else "?", "OK"))
    return tenv.spark.createDataFrame(
        rows, "stmt_index int, target string, result string"
    )


def _delegate(module: str, function: str, first: str = "spark"):
    """A handler calling ``module.function(spark or tenv, stmt.sql)``."""
    return lambda tenv, stmt: _call(
        module, function, tenv.spark if first == "spark" else tenv, stmt.sql
    )


def _table_ddl(tenv, stmt):
    done = _call("ddl", "execute_flink_ddl", tenv.spark, stmt.sql)
    return _ok(tenv) if done else None


def _view(tenv, stmt):
    """Spark keeps no SQL for temp views: once Spark accepts the view,
    record the statement as written for SHOW CREATE VIEW."""
    out = tenv.spark.sql(stmt.sql)
    _call("catalog_sql", "record_view_statement", tenv.spark, stmt.text)
    return out


HANDLERS = {
    "set": _set,
    "explain": _explain,
    "plan": _delegate("compiled_plan", "try_handle_plan_statement", "tenv"),
    "call": _delegate("procedures", "try_handle_call_statement"),
    "jobs": _jobs,
    "statement_set": _statement_set,
    "materialized_table": (
        lambda tenv, stmt: tenv.materialized_tables.execute(stmt.sql)
    ),
    "model": _delegate("models", "try_handle_model_statement", "tenv"),
    "function": _delegate("function_ddl", "try_handle_function_statement"),
    "table_ddl": _table_ddl,
    "alter": _delegate("alter_table", "try_handle_alter_statement"),
    "catalog": _delegate("catalog_sql", "try_handle_catalog_statement"),
    "row_level": _delegate("row_level", "try_handle_row_level_statement"),
    "insert": _delegate("ddl", "execute_flink_insert"),
    "view": _view,
}
