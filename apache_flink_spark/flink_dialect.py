"""Flink-SQL dialect aggregate typing on top of Catalyst (r13 — the
streaming AggregateITCase harvest).

Flink (via Calcite) gives several aggregates RESULT TYPES Spark does not:

  - ``AVG(exact-numeric)`` returns the ARGUMENT type: AVG(INT) is an INT
    computed with integer division (Calcite AggregateReduceFunctionsRule
    reduces AVG to SUM/COUNT on the arg type; flink-table-planner
    AggregateITCase.scala:879 pins avg 12,13 -> 12 and :1079 avg of
    {12,13} -> 12), and AVG(DECIMAL(p,s)) keeps scale s (HALF_UP —
    AggregateITCase.scala:577 pins avg(2.22222222, 3.33333333) ->
    2.77777778).
  - ``VAR_POP(INT)`` is an INT: Calcite reduces it to
    (SUM(x*x) - SUM(x)*SUM(x)/COUNT(x)) / COUNT(x) with integer division
    at each step (AggregateITCase.scala:1537 pins VAR_POP over
    2900,2500,2600 -> 28889, over 3100,11000 -> 15602500).
  - ``LISTAGG(x)`` defaults the delimiter to ',' (Flink docs; Spark's
    listagg defaults to the empty string).
  - ``COLLECT(x)`` builds a MULTISET (value -> count map).
  - ``JSON_OBJECTAGG(k VALUE v)`` uses the SQL:2016 KEY/VALUE syntax
    Spark does not parse.

These are rewritten at the SQL-text level before Catalyst sees the query.
The AVG/VAR_POP rules need the argument's TYPE, which is resolved by
ANALYZING (never executing) a probe ``SELECT (arg) FROM <enclosing FROM
clause>`` against the session catalog — plan-only, no jobs. When the
probe cannot be built or analyzed (correlated/lateral context), the call
is left untouched and Spark semantics apply; the rewrite never guesses.

Scale: rewrites are pure text transforms + a LIMIT-0 analysis; the
resulting plans are plain Catalyst aggregates (SUM/COUNT pairs fuse into
the same hash-agg the AVG would have used — no extra shuffle).
"""

from __future__ import annotations

import re

from apache_flink_spark.statement import (
    closing_paren,
    in_literal,
    literal_spans,
    split_top_level,
)

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}

_CALL_RE = re.compile(
    r"\b(?P<fn>AVG|VAR_POP|LISTAGG|COLLECT|JSON_OBJECTAGG|JSON_ARRAYAGG"
    r"|SUM|COUNT|MIN|MAX)\s*\(", re.I
)

_SCOPE_END = re.compile(
    r"^(WHERE|GROUP|HAVING|WINDOW|QUALIFY|ORDER|LIMIT|UNION|EXCEPT"
    r"|INTERSECT)$", re.I
)


def _enclosing_from(sql: str, pos: int) -> str | None:
    """The FROM clause of the subquery containing position ``pos`` (the
    aggregate call site): scan FORWARD at the same paren depth — in a
    SELECT list the FROM always follows. Returns None when the query has
    no FROM at this depth (SELECT without FROM)."""
    spans = literal_spans(sql)
    depth, i, n = 0, pos, len(sql)
    from_start = None
    while i < n:
        if in_literal(spans, i):
            i += 1
            continue
        c = sql[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0 and sql[i: i + 4].upper() == "FROM" and (
            i + 4 >= n or not (sql[i + 4].isalnum() or sql[i + 4] == "_")
        ) and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")):
            from_start = i + 4
            i += 4
            break
        i += 1
    if from_start is None:
        return None
    # capture until a same-depth scope keyword or the subquery's end
    depth, j = 0, from_start
    out_end = n
    while j < n:
        if in_literal(spans, j):
            j += 1
            continue
        c = sql[j]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                out_end = j
                break
            depth -= 1
        elif depth == 0 and (c.isalpha()):
            m = re.match(r"[A-Za-z_]+", sql[j:])
            word = m.group(0)
            if _SCOPE_END.match(word) and not (
                j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_")
            ):
                out_end = j
                break
            j += len(word)
            continue
        j += 1
    clause = sql[from_start:out_end].strip()
    return clause or None


def _probe_type(
    spark, arg: str, from_clause: str | None, prefix: str = ""
) -> str | None:
    """Catalyst-analyzed type of ``arg`` in the FROM clause's scope —
    plan-only (schema access analyzes; nothing executes). ``prefix``
    carries a leading WITH-clause so CTE names resolve."""
    a = re.sub(r"^\s*(DISTINCT|ALL)\b", "", arg, flags=re.I).strip()
    probe = f"{prefix} SELECT ({a}) AS __p"
    if from_clause:
        probe += f" FROM {from_clause}"
    try:
        return spark.sql(probe).schema[0].dataType.simpleString()
    except Exception:
        return None


def _cte_prefix(sql: str) -> str:
    """The leading ``WITH name AS (...) [, ...]`` prefix, if any — used
    so type probes resolve CTE names."""
    m = re.match(r"\s*WITH\s+", sql, re.I)
    if not m:
        return ""
    i = m.end()
    while True:
        mm = re.match(r"\s*(?:RECURSIVE\s+)?\w+\s+AS\s*\(", sql[i:], re.I)
        if not mm:
            break
        try:
            close = closing_paren(sql, i + mm.end() - 1)
        except ValueError:
            return ""
        i = close + 1
        mc = re.match(r"\s*,", sql[i:])
        if mc:
            i += mc.end()
            continue
        break
    return sql[:i]


def _over_suffix(sql: str, close: int) -> tuple[str, int]:
    """A trailing ``OVER (...)`` / ``OVER named_window`` clause after the
    call, if any: (clause_text, end_index_exclusive)."""
    m = re.match(r"\s*OVER\s*(\(|[A-Za-z_][\w]*)", sql[close + 1:], re.I)
    if not m:
        return "", close + 1
    if m.group(1) == "(":
        oopen = close + 1 + m.end() - 1
        oclose = closing_paren(sql, oopen)
        return sql[close + 1: oclose + 1], oclose + 1
    end = close + 1 + m.end()
    return sql[close + 1: end], end


def _filter_suffix(sql: str, close: int) -> tuple[str, int]:
    """A trailing ``FILTER (WHERE ...)`` clause after the call, if any:
    (clause_text, end_index_exclusive)."""
    m = re.match(r"\s*FILTER\s*\(", sql[close + 1:], re.I)
    if not m:
        return "", close + 1
    fopen = close + 1 + m.end() - 1
    fclose = closing_paren(sql, fopen)
    return sql[close + 1: fclose + 1], fclose + 1


def _split_distinct(arg: str) -> tuple[str, str]:
    m = re.match(r"^\s*DISTINCT\b", arg, re.I)
    if m:
        return "DISTINCT ", arg[m.end():].strip()
    return "", arg.strip()


def rewrite_flink_aggregates(spark, sql: str) -> str:
    """Apply the Flink aggregate-dialect rewrites (module docstring).
    Idempotent on queries without the listed calls; one pass, innermost
    calls untouched (the listed aggregates cannot nest in each other)."""
    # Flink's bare VARCHAR/CHAR default to length 1 in casts; Spark
    # requires a length — map the bare forms to STRING (same printable
    # behavior for NULL casts, OverAggregateITCase:416)
    out = re.sub(r"(?i)\b(AS\s+)VARCHAR(\s*\))", r"\1STRING\2", sql)
    # GROUPING_ID(cols...): Flink (Calcite) computes the bit vector over
    # exactly the argument columns; Spark's grouping_id() insists the
    # arguments be the FULL grouping list, so express the same bit
    # vector with per-column grouping() bits
    # (WindowDistinctAggregateITCase.scala:216 GROUPING_ID(`name`)).
    def _gid(m: re.Match) -> str:
        cols = [c.strip() for c in m.group(1).split(",") if c.strip()]
        n = len(cols)
        return "(" + " + ".join(
            f"grouping({c})" if i == n - 1
            else f"grouping({c}) * {1 << (n - 1 - i)}"
            for i, c in enumerate(cols)
        ) + ")"

    out = re.sub(r"(?i)\bGROUPING_ID\s*\(([^()]*)\)", _gid, out)
    # PROCTIME(): the processing-time attribute — in a micro-batch
    # engine, the batch's wall-clock timestamp (LookupJoinITCase's
    # "SELECT max(id), PROCTIME() as proctime ... " probe sides)
    out = re.sub(r"(?i)\bPROCTIME\s*\(\s*\)", "current_timestamp()", out)
    # repeat until no call rewrites (positions shift after each edit)
    for _ in range(64):
        spans = literal_spans(out)
        changed = False
        for m in _CALL_RE.finditer(out):
            if in_literal(spans, m.start()):
                continue
            fn = m.group("fn").upper()
            open_pos = m.end() - 1
            try:
                close = closing_paren(out, open_pos)
            except ValueError:
                return out
            arg = out[open_pos + 1: close]
            repl = None
            if fn == "AVG":
                if "__flink_avg" in arg:
                    continue
                dist, a = _split_distinct(arg)
                over, oend = _over_suffix(out, close)
                t = _probe_type(spark, a, _enclosing_from(out, m.start()))
                if t in _INTEGRAL:
                    if over:
                        repl = (
                            f"CAST(((SUM(/*__flink_avg*/{a}) {over}) DIV "
                            f"(COUNT({a}) {over})) AS {t.upper()})"
                        )
                        close = oend - 1
                    else:
                        filt, end = _filter_suffix(out, close)
                        repl = (
                            f"CAST((SUM({dist}/*__flink_avg*/{a}){filt} "
                            f"DIV COUNT({dist}{a}){filt}) AS {t.upper()})"
                        )
                        close = end - 1
                elif t is not None and t.startswith("decimal"):
                    s = int(t.rstrip(")").split(",")[1])
                    if over:
                        repl = (
                            f"CAST((AVG(/*__flink_avg*/{a}) {over}) "
                            f"AS DECIMAL(38,{s}))"
                        )
                        close = oend - 1
                    else:
                        repl = (
                            f"CAST(AVG({dist}/*__flink_avg*/{a}) "
                            f"AS DECIMAL(38,{s}))"
                        )
            elif fn in ("SUM", "COUNT", "MIN", "MAX"):
                # Flink supports DISTINCT aggregates inside OVER windows
                # (OverAggregateITCase:1156/:1323); Spark rejects them —
                # rewritten over a windowed collect_set.
                if "__flink_" in arg:
                    continue
                dist, a = _split_distinct(arg)
                if not dist:
                    continue
                over, oend = _over_suffix(out, close)
                if not over:
                    continue
                a_marked = f"/*__flink_dw*/{a}"
                if fn in ("MIN", "MAX"):
                    # distinct is a no-op for min/max — drop it
                    repl = f"{fn}({a_marked}) {over}"
                elif fn == "COUNT":
                    repl = f"size(collect_set({a_marked}) {over})"
                else:  # SUM
                    t = _probe_type(
                        spark, a, _enclosing_from(out, m.start())
                    )
                    if t is None:
                        continue
                    repl = (
                        f"aggregate(collect_set({a_marked}) {over}, "
                        f"CAST(NULL AS {t}), "
                        f"(__a, __v) -> COALESCE(__a, CAST(0 AS {t})) "
                        f"+ __v)"
                    )
                if repl is not None:
                    close = oend - 1
            elif fn == "VAR_POP":
                if "__flink_avg" in arg:
                    continue
                dist, a = _split_distinct(arg)
                if dist:
                    continue
                t = _probe_type(spark, a, _enclosing_from(out, m.start()))
                if t in _INTEGRAL:
                    x = f"(/*__flink_avg*/{a})"
                    filt, end = _filter_suffix(out, close)
                    repl = (
                        f"CAST(((SUM({x}*{x}){filt} - (SUM({x}){filt}"
                        f"*SUM({x}){filt} DIV COUNT({x}){filt})) DIV "
                        f"COUNT({x}){filt}) AS {t.upper()})"
                    )
                    close = end - 1
            elif fn == "LISTAGG":
                if "/*__flink_ws*/" in arg:
                    continue
                parts = split_top_level(arg)
                over, oend = _over_suffix(out, close)
                if over:
                    # Flink supports LISTAGG [DISTINCT] inside OVER
                    # windows (OverAggregateITCase:485); Spark's listagg
                    # is not a window function. DISTINCT keeps
                    # first-arrival order (array_distinct preserves
                    # first occurrences).
                    dist, a0 = _split_distinct(parts[0])
                    delim = parts[1] if len(parts) > 1 else "','"
                    inner = f"collect_list(/*__flink_ws*/{a0}) {over}"
                    if dist:
                        inner = f"array_distinct({inner})"
                    repl = f"array_join({inner}, {delim})"
                    close = oend - 1
                elif len(parts) == 1:
                    # Flink's default delimiter is ',' (Spark's is '')
                    repl = f"LISTAGG(/*__flink_ws*/{arg}, ',')"
            elif fn == "COLLECT":
                if "__flink_ms" in arg:
                    continue
                # Flink MULTISET: value -> multiplicity map (nulls are
                # ignored, as collect_list does); works inside OVER
                # windows too (OverAggregateITCase:1323 COLLECT(DISTINCT))
                dist, a0 = _split_distinct(arg)
                over, oend = _over_suffix(out, close)
                a = f"/*__flink_ms*/{a0}"
                if dist:
                    repl = (
                        f"map_from_entries(transform("
                        f"collect_set({a}){(' ' + over) if over else ''}, "
                        f"__v -> struct(__v, 1)))"
                    )
                else:
                    osfx = (" " + over) if over else ""
                    repl = (
                        f"map_from_entries(transform("
                        f"array_distinct(collect_list({a}){osfx}), "
                        f"__v -> struct(__v, size(filter("
                        f"collect_list({a}){osfx}, __y -> __y <=> __v)))))"
                    )
                if over:
                    close = oend - 1
            elif fn == "JSON_OBJECTAGG":
                kv = re.match(
                    r"^(?P<k>.+?)\s+VALUE\s+(?P<v>.+)$", arg,
                    re.I | re.DOTALL,
                )
                if kv:
                    k, v = kv.group("k").strip(), kv.group("v").strip()
                    # sorted keys — the reference prints the object with
                    # keys in sorted order (AggregateITCase:1956)
                    repl = (
                        f"to_json(map_from_entries(array_sort("
                        f"collect_list(struct({k} AS k, {v} AS v)))))"
                    )
            elif fn == "JSON_ARRAYAGG":
                if "__flink_ja" not in arg:
                    repl = f"to_json(collect_list(/*__flink_ja*/{arg}))"
            if repl is not None:
                out = out[: m.start()] + repl + out[close + 1:]
                changed = True
                break
        if not changed:
            return out
    return out


_UNNEST_RE = re.compile(
    r"(?P<lead>,|\bCROSS\s+JOIN|\bLEFT\s+JOIN|\bFROM)\s*"
    r"UNNEST\s*\(", re.I
)

_UNNEST_TAIL_RE = re.compile(
    r"^\s*(?:AS\s+)?(?P<alias>\w+)?\s*(?:\(\s*(?P<cols>[\w\s,]+?)\s*\))?",
    re.I,
)

_ARRAY_LIT_RE = re.compile(r"\bARRAY\s*\[([^\[\]]*)\]", re.I)
_MAP_LIT_RE = re.compile(r"\bMAP\s*\[([^\[\]]*)\]", re.I)


def rewrite_bracket_literals(sql: str) -> str:
    """Flink's ``ARRAY[...]`` / ``MAP[k, v, ...]`` collection literals
    (CalcITCase:231/:508) -> Spark's ``array(...)`` / ``map(...)``
    (innermost-out for nesting)."""
    prev = None
    while prev != sql:
        prev = sql
        sql = _ARRAY_LIT_RE.sub(r"array(\1)", sql)
        sql = _MAP_LIT_RE.sub(r"map(\1)", sql)
    return sql


def _preceding_from(sql: str, pos: int) -> str | None:
    """The FROM-clause text between the nearest same-depth FROM keyword
    BEFORE ``pos`` and ``pos`` — the tables the UNNEST correlates to."""
    spans = literal_spans(sql)
    depth = 0
    i = pos - 1
    while i >= 0:
        if in_literal(spans, i):
            i -= 1
            continue
        c = sql[i]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                return None
            depth -= 1
        elif depth == 0 and c in "Mm" and sql[i - 3: i + 1].upper() == "FROM":
            start = i - 3
            if (start == 0 or not (sql[start - 1].isalnum()
                                   or sql[start - 1] == "_")):
                clause = sql[i + 1: pos].strip().rstrip(",").strip()
                return clause or None
        i -= 1
    return None


def rewrite_unnest(spark, sql: str) -> str:
    """Flink's ``UNNEST`` collection-table syntax (streaming
    UnnestITCase.scala) on Spark's LATERAL VIEW:

      - ``FROM T, UNNEST(T.arr) AS A (s[, t])`` / ``CROSS JOIN UNNEST``
        -> ``LATERAL VIEW explode|inline(arr) A [AS s, t]`` (inline when
        the element is a struct being splatted into multiple aliases)
      - ``LEFT JOIN UNNEST(x) AS A(s) ON TRUE`` -> ``LATERAL VIEW OUTER``
      - ``UNNEST(map)`` with two aliases -> ``explode(map) A AS k, v``
      - ``UNNEST(multiset)`` (the engine's COLLECT encoding: a value ->
        INT multiplicity map) expands each element ``multiplicity``
        times via map_entries + array_repeat before the explode/inline
      - ``FROM UNNEST(ARRAY[...])`` standalone -> a one-column derived
        table; Flink's ``ARRAY[...]`` literals map to ``array(...)``.

    Element types are resolved by Catalyst ANALYSIS of the expression
    against the preceding FROM clause (plan-only); unresolvable sites
    are left untouched.
    """
    # ARRAY[...] / MAP[...] literal syntax first
    sql = rewrite_bracket_literals(sql)
    for _ in range(32):
        spans = literal_spans(sql)
        m = None
        for cand in _UNNEST_RE.finditer(sql):
            if not in_literal(spans, cand.start()):
                m = cand
                break
        if m is None:
            return sql
        open_pos = m.end() - 1
        try:
            close = closing_paren(sql, open_pos)
        except ValueError:
            return sql
        expr = sql[open_pos + 1: close]
        tail = _UNNEST_TAIL_RE.match(sql[close + 1:])
        alias = tail.group("alias")
        if alias is not None and alias.upper() in (
            "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION",
            "EXCEPT", "INTERSECT", "ON", "JOIN", "LEFT", "RIGHT",
            "CROSS", "INNER", "FULL", "LATERAL", "SELECT", "AS",
        ):
            alias = None
            tail = None
        cols = [
            c.strip()
            for c in ((tail.group("cols") if tail else None) or "").split(",")
            if c.strip()
        ]
        alias = alias or "__unnest"
        end = close + 1 + (tail.end() if tail else 0)
        lead = m.group("lead").upper().replace(" ", "")
        outer = ""
        if lead == "LEFTJOIN":
            on = re.match(r"\s*ON\s+TRUE", sql[end:], re.I)
            if on:
                end += on.end()
            outer = "OUTER "
        t = _probe_type(
            spark, expr, _preceding_from(sql, m.start()),
            prefix=_cte_prefix(sql),
        )
        if t is None:
            return sql
        gen_expr = expr
        elem = None
        if t.startswith("array<"):
            elem = t[6:-1]
        elif t.startswith("map<"):
            # the engine's MULTISET encoding is value -> INT multiplicity
            # (flink_dialect COLLECT); any other map unnests as (k, v)
            inner = t[4:-1]
            depth_c = 0
            split_at = None
            for i2, ch in enumerate(inner):
                if ch == "<":
                    depth_c += 1
                elif ch == ">":
                    depth_c -= 1
                elif ch == "," and depth_c == 0:
                    split_at = i2
                    break
            ktype, vtype = inner[:split_at], inner[split_at + 1:]
            if vtype.strip() in ("int", "bigint", "smallint", "tinyint"):
                gen_expr = (
                    f"flatten(transform(map_entries({expr}), "
                    f"__e -> array_repeat(__e.key, "
                    f"CAST(__e.value AS INT))))"
                )
                elem = ktype
            else:
                gen = f"explode({expr})"
                col_sfx = f" AS {', '.join(cols)}" if cols else ""
                repl = f" LATERAL VIEW {outer}{gen} {alias}{col_sfx} "
                if lead == "FROM":
                    sel_alias = (
                        f" AS ({', '.join(cols)})" if cols else ""
                    )
                    repl = f" FROM (SELECT {gen}{sel_alias}) {alias} "
                sql = sql[: m.start()] + repl + sql[end:]
                continue
        else:
            return sql
        splat = len(cols) > 1 and elem is not None and elem.startswith(
            "struct<"
        )
        gen = (
            f"inline({gen_expr})" if splat or (
                not cols and elem is not None and elem.startswith("struct<")
            )
            else f"explode({gen_expr})"
        )
        col_sfx = f" AS {', '.join(cols)}" if cols else ""
        if lead == "FROM":
            sel_alias = f" AS ({', '.join(cols)})" if cols else ""
            repl = f" FROM (SELECT {gen}{sel_alias}) {alias} "
        else:
            repl = f" LATERAL VIEW {outer}{gen} {alias}{col_sfx} "
        sql = sql[: m.start()] + repl + sql[end:]
    return sql
