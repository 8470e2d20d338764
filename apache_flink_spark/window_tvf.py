"""Window TVF SQL syntax — TUMBLE/HOP/CUMULATE table functions.

Reference parity: Flink SQL's windowing TVFs (flink-table-planner
.../plan/rules/logical/... window TVF planning into
StreamExecWindowAggregate; the SQL surface
``TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '10' MINUTES))`` assigns
``window_start``/``window_end`` columns to every row). Spark SQL has the
``window()`` expression but not the TVF syntax, so
:func:`rewrite_window_tvfs` rewrites each TVF call site into an equivalent
subquery — TUMBLE/HOP via the builtin ``window()`` (projection position,
which Spark supports and which fans a row into all its hop windows), and
CUMULATE via the explode-slices rewrite this engine already uses for its
DataFrame cumulate (queries/event_windows.py).

The rewrite is textual, like the MATCH_RECOGNIZE path: everything around
the TVF — aggregation on window_start/window_end, joins, HAVING — stays in
``spark.sql`` untouched, and Catalyst plans it (a GROUP BY
window_start/window_end after the rewrite is the same plan a native
``groupBy(window(...))`` produces).

SESSION TVFs (Flink 1.17+ ``SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts),
INTERVAL ...)``) merge by gap, so their bounds are not a per-row
projection — the rewrite is gaps-and-islands over the partition keys
(session-start marks -> running-sum session ids -> per-session MIN/MAX
bounds), sharing one exchange across the analytic windows.
"""

from __future__ import annotations

import itertools
import re

from apache_flink_spark.statement import in_literal, literal_spans


class WindowTvfError(ValueError):
    pass


_TVF_RE = re.compile(
    r"TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE|SESSION)\s*\(\s*TABLE\s+(\w+)"
    r"(?:\s+PARTITION\s+BY\s+(`?\w+`?(?:\s*,\s*`?\w+`?)*))?\s*,\s*"
    r"DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*,\s*([^()]+)\)\s*\)",
    re.I,
)

_INTERVAL_RE = re.compile(
    r"INTERVAL\s*'(-?\d+(?:\.\d+)?)'\s*(SECOND|MINUTE|HOUR|DAY)S?", re.I
)

_UNIT_US = {
    "SECOND": 1_000_000,
    "MINUTE": 60_000_000,
    "HOUR": 3_600_000_000,
    "DAY": 86_400_000_000,
}

_counter = itertools.count()


def _parse_intervals(args: str):
    # r13: fractional seconds (GroupWindowITCase's INTERVAL '0.004'
    # SECOND) carry through as integral microseconds
    out = [
        (int(float(n) * _UNIT_US[u.upper()]),
         f"{n} {u.lower()}s" if "." not in n
         else f"{int(float(n) * _UNIT_US[u.upper()])} microseconds")
        for n, u in _INTERVAL_RE.findall(args)
    ]
    if not out:
        raise WindowTvfError(f"no INTERVAL arguments in window TVF: {args!r}")
    return out


def _rewrite_one(
    kind: str, src: str, col: str, args: str, part: str | None = None
) -> str:
    ivs = _parse_intervals(args)
    w = f"__wtvf{next(_counter)}"
    if part and kind != "SESSION":
        raise WindowTvfError(
            f"PARTITION BY is only valid on SESSION window TVFs, not {kind}"
        )
    # window_time = window_end - 1ms: the windowed table's rowtime
    # attribute (ref WindowTableFunctionITCase.scala:73 — every expected
    # row carries it; flink-table-runtime WindowTableFunctionOperatorBase
    # emits it as the third window column)
    if kind == "TUMBLE":
        # Flink arg order: size [, offset] (TUMBLE(..., INTERVAL '5'
        # SECOND, INTERVAL '1' SECOND) tiles windows at offset mod size;
        # negative offsets allowed — WindowTableFunctionITCase:177).
        # Spark window()'s startTime is the same mod-size shift, so
        # normalize the offset into [0, size).
        if len(ivs) == 2:
            (size_us, size), (off_us, _) = ivs
            start = f", '{((off_us % size_us) + size_us) % size_us} microseconds'"
            start = f", '{size}'" + start  # window(col, size, slide, start)
        else:
            (size_us, size), = ivs
            start = ""
        return (
            f"(SELECT * EXCEPT({w}), {w}.start AS window_start,"
            f" {w}.`end` AS window_end,"
            f" {w}.`end` - INTERVAL 1 MILLISECOND AS window_time"
            f" FROM (SELECT *, window(`{col}`, '{size}'{start}) AS {w}"
            f" FROM {src}))"
        )
    if kind == "HOP":
        # Flink arg order: slide, then size [, offset].
        (slide_us, slide), (_, size) = ivs[0], ivs[1]
        start = ""
        if len(ivs) == 3:
            off_us = ivs[2][0]
            start = f", '{((off_us % slide_us) + slide_us) % slide_us} microseconds'"
        return (
            f"(SELECT * EXCEPT({w}), {w}.start AS window_start,"
            f" {w}.`end` AS window_end,"
            f" {w}.`end` - INTERVAL 1 MILLISECOND AS window_time"
            f" FROM (SELECT *, window(`{col}`, '{size}', '{slide}'{start}) AS {w}"
            f" FROM {src}))"
        )
    if kind == "CUMULATE":
        # Flink arg order: step, then max size [, offset]. A row at
        # offset o into its max-size window belongs to every slice ending
        # after o — explode those slice indices (same rewrite as the
        # DataFrame cumulate operator).
        (step_us, _), (size_us, _) = ivs[0], ivs[1]
        off_us = ((ivs[2][0] % size_us) + size_us) % size_us if len(ivs) == 3 else 0
        if size_us % step_us:
            raise WindowTvfError("CUMULATE size must be a multiple of step")
        n = size_us // step_us
        ws, k = f"{w}s", f"{w}k"
        return (
            f"(SELECT * EXCEPT({ws}, {k}),"
            f" timestamp_micros({ws}) AS window_start,"
            f" timestamp_micros({ws} + {k} * {step_us}) AS window_end,"
            f" timestamp_micros({ws} + {k} * {step_us} - 1000) AS window_time"
            f" FROM (SELECT *,"
            f" ((unix_micros(`{col}`) - {off_us}) div {size_us}) * {size_us}"
            f" + {off_us} AS {ws},"
            f" explode(sequence(CAST(1 AS BIGINT), CAST({n} AS BIGINT))) AS {k}"
            f" FROM {src})"
            f" WHERE unix_micros(`{col}`) < {ws} + {k} * {step_us})"
        )
    # SESSION (Flink 1.17+ TVF syntax, ref UnalignedWindowTableFunction):
    # sessions merge by gap, so window bounds are not a projection of the
    # single row — the rewrite is gaps-and-islands: mark session starts
    # (gap exceeded), running-sum them into a session id, then window
    # MIN/MAX give every row its merged session's bounds
    # (window_end = last event + gap, Spark session_window semantics).
    # All four analytic windows share one exchange on the partition keys.
    (gap_us, _), = ivs
    keys = [k.strip().strip("`") for k in part.split(",")] if part else []
    by = ", ".join(f"`{k}`" for k in keys)
    pb = f"PARTITION BY {by}" if keys else ""
    pbg = f"PARTITION BY {by}, {w}g" if keys else f"PARTITION BY {w}g"
    ep = f"unix_micros(`{col}`)"
    lag = f"LAG({ep}) OVER ({pb} ORDER BY `{col}`)"
    return (
        f"(SELECT * EXCEPT({w}n, {w}g, {w}s, {w}e),"
        f" timestamp_micros({w}s) AS window_start,"
        f" timestamp_micros({w}e) AS window_end,"
        f" timestamp_micros({w}e - 1000) AS window_time"
        f" FROM (SELECT *,"
        f" MIN({ep}) OVER ({pbg}) AS {w}s,"
        f" MAX({ep}) OVER ({pbg}) + {gap_us} AS {w}e"
        f" FROM (SELECT *,"
        f" SUM({w}n) OVER ({pb} ORDER BY `{col}`"
        f" ROWS UNBOUNDED PRECEDING) AS {w}g"
        f" FROM (SELECT *,"
        f" CASE WHEN {lag} IS NULL"
        f" OR {ep} - {lag} > {gap_us} THEN 1 ELSE 0 END AS {w}n"
        f" FROM {src}))))"
    )


def rewrite_window_tvfs(sql: str) -> str:
    """Replace every ``TABLE(TUMBLE|HOP|CUMULATE(...))`` site with an
    equivalent Spark SQL subquery; returns the SQL unchanged if none."""
    pos = 0
    while True:
        spans = literal_spans(sql)
        m = _TVF_RE.search(sql, pos)
        while m is not None and in_literal(spans, m.start()):
            m = _TVF_RE.search(sql, m.end())
        if m is None:
            return sql
        pos = m.start()  # the substitution contains no further TVF calls
        kind = m.group(1).upper()
        sub = _rewrite_one(kind, m.group(2), m.group(4), m.group(5), m.group(3))
        sql = sql[: m.start()] + sub + sql[m.end():]


# Legacy group-window syntax (reference "Group Window Aggregation" —
# TUMBLE/HOP/SESSION directly in GROUP BY plus *_START/*_END selectors in
# SELECT; validated by the planner's LogicalWindowAggregate rules).
_GW_RE = re.compile(
    r"\b(TUMBLE|HOP|SESSION)(_START|_END|_ROWTIME|_PROCTIME)?\s*\(\s*"
    r"`?(\w+(?:`?\.`?\w+)?)`?\s*,\s*([^()]+)\)",
    re.I,
)


def _gw_expr(kind: str, col: str, args: str) -> str:
    ivs = _parse_intervals(args)
    # r13: qualified time attributes (TUMBLE(t1.rowtime, ...) — the
    # IntervalJoinITCase window-agg-after-join shape) pass through
    # unquoted; bare names keep backticks (reserved-word columns)
    ref = col if "." in col else f"`{col}`"
    if kind == "TUMBLE":
        (_, size), = ivs
        return f"window({ref}, '{size}')"
    if kind == "HOP":
        (_, slide), (_, size) = ivs  # Flink arg order: slide, size
        return f"window({ref}, '{size}', '{slide}')"
    (_, gap), = ivs
    return f"session_window({ref}, '{gap}')"


def rewrite_group_windows(sql: str) -> str:
    """Rewrite legacy group-window calls to Spark window expressions:
    ``GROUP BY TUMBLE(ts, i)`` -> ``GROUP BY window(ts, 'i')`` (HOP and
    SESSION -> ``session_window`` likewise), and the ``TUMBLE_START`` /
    ``HOP_END`` / ``SESSION_START``-style selectors to the corresponding
    ``.start`` / ``.end`` field of the same grouping expression (Catalyst
    matches the repeated expression to the grouping column)."""

    spans = literal_spans(sql)

    def sub(m: re.Match) -> str:
        if in_literal(spans, m.start()):
            return m.group(0)  # window-shaped text inside a string literal
        expr = _gw_expr(m.group(1).upper(), m.group(3), m.group(4))
        suffix = (m.group(2) or "").upper()
        if suffix == "_START":
            return f"{expr}.start"
        if suffix == "_END":
            return f"{expr}.`end`"
        if suffix in ("_ROWTIME", "_PROCTIME"):
            # the window's time attribute = end - 1ms (the reference's
            # window_time; GroupWindowITCase HOP_ROWTIME/SESSION_ROWTIME)
            return f"{expr}.`end` - INTERVAL 1 MILLISECOND"
        return expr

    return _GW_RE.sub(sub, sql)
