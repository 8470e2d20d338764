"""SQL MATCH_RECOGNIZE — restricted row-pattern matching over DataFrames.

Reference parity (SURVEY.md §2.9): the reference parses MATCH_RECOGNIZE via
Calcite and plans StreamExecMatch (flink-table-planner
.../nodes/exec/stream/StreamExecMatch.java:61) backed by the CEP NFA
(flink-libraries/flink-cep NFA.java:76). Spark has no MATCH_RECOGNIZE
syntax; this module adds the SQL surface on top of the DataFrame CEP
rewrites in queries/pattern_match.py.

Supported subset (errors loudly otherwise):

    SELECT ... FROM <table> MATCH_RECOGNIZE (
        PARTITION BY k [, ...]
        ORDER BY c [ASC|DESC] [, ...]            -- DESC: r5 (not with WITHIN)
        MEASURES <measure> AS alias [, ...]
        [ONE ROW PER MATCH | ALL ROWS PER MATCH]
        [AFTER MATCH SKIP PAST LAST ROW         -- default
         | AFTER MATCH SKIP TO NEXT ROW
         | AFTER MATCH SKIP TO FIRST VAR | AFTER MATCH SKIP TO LAST VAR]
        PATTERN ( ELEM[quant] ... )              -- ELEM := VAR | (V1|V2|...)
                                                 -- quant in + * ? {m} {m,} {m,n},
                                                 -- each optionally reluctant (+? *? ?? {m,n}?)
        [WITHIN INTERVAL 'n' unit]               -- match horizon (CEP within)
        DEFINE VAR AS <predicate> [, ...]        -- own-row predicates, plus
                                                 -- PREV/NEXT(X.col[, n]) physical
                                                 -- row navigation (lag/lead)
    ) [AS alias]

    <measure>  := [RUNNING | FINAL] (VAR.col | FIRST(VAR.col)
                | LAST(VAR.col) | COUNT(VAR.*) | COUNT(*)
                | SUM|MIN|MAX|AVG(VAR.col))
                | CLASSIFIER() | MATCH_NUMBER()
                -- ALL ROWS PER MATCH defaults to RUNNING (SQL standard);
                -- ONE ROW PER MATCH evaluates at the final row

Semantics follow the reference (cep/nfa/NFA.java:76 and Calcite's
MATCH_RECOGNIZE validation): greedy quantifiers with backtracking,
reluctant quantifiers take the shortest extension first, alternation
prefers the leftmost branch (variable labeling per row), leftmost match
priority, non-overlapping via AFTER MATCH SKIP (TO FIRST/LAST var resumes
INSIDE the previous match, so matches may overlap — and a skip target
that cannot advance past the match start raises, the reference's
infinite-loop guard). Variables not in DEFINE match any row (the
standard's "undefined variable is TRUE").

Execution strategy (Spark-first):
  1. DEFINE predicates are stripped of their variable prefix and evaluated
     JVM-side as boolean columns (Catalyst expressions, codegen, pushdown-
     friendly) — the Python matcher never evaluates SQL.
  2. Rows shuffle once on PARTITION BY; an Arrow-batched ``applyInPandas``
     runs the matcher (MatchPlan — the one the streaming driver in
     streaming/match_stream.py runs too) per key over the precomputed
     booleans (the same keyed, time-ordered traversal CepOperator
     performs). Per-key rows
     must fit in executor memory — identical to the reference's per-key NFA
     state assumption.
  3. The MATCH_RECOGNIZE subtree is replaced by a temp view so the OUTER
     query (projection / WHERE / ORDER BY over the matches) still runs
     through Catalyst unchanged.
"""

from __future__ import annotations

import ast
import functools
import itertools
import operator as _op
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_flink_spark.statement import (
    closing_paren,
    in_literal,
    literal_spans,
    split_top_level,
)

__all__ = [
    "sql_with_match_recognize", "rewrite_match_recognize",
    "compile_match_recognize",
]


class MatchRecognizeError(ValueError):
    pass


_QUANTS = {"": (1, 1), "?": (0, 1), "+": (1, None), "*": (0, None)}

# pattern text: bounded paren nesting, generated to depth 6 (r8 needed
# depth 3 for quantified groups of relaxed loops; r10's NESTED
# GroupPattern compiles — (a (b c)+)? — reach depth 5: outer optional
# group, outer relaxed expansion, inner loop expansion, inner atom,
# inner relaxed gap group)
_PAREN = r"\([^()]*\)"
for _ in range(5):
    _PAREN = rf"\((?:[^()]|{_PAREN})*\)"

_BODY_RE = re.compile(
    r"(?:PARTITION\s+BY\s+(?P<part>.+?)\s+)?"
    r"ORDER\s+BY\s+(?P<order>.+?)\s+"
    r"MEASURES\s+(?P<meas>.+?)\s+"
    r"(?:(?P<mode>ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\s+)?"
    r"(?:AFTER\s+MATCH\s+SKIP\s+(?P<skip>PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW"
    r"|TO\s+(?:FIRST|LAST)\s+\w+)\s+)?"
    rf"PATTERN\s*\(\s*(?P<pat>(?:[^()]|{_PAREN})*?)\s*\)\s+"
    r"(?:WITHIN\s+INTERVAL\s*'(?P<within_n>\d+)'\s*(?P<within_u>\w+)\s+)?"
    r"(?:SUBSET\s+(?P<subset>.+?)\s+)?"
    r"DEFINE\s+(?P<defs>.+)$",
    re.I | re.S,
)

_WITHIN_UNIT_US = {
    "MICROSECOND": 1,
    "MICROSECONDS": 1,
    "MICRO": 1,
    "MILLISECOND": 1_000,
    "MILLISECONDS": 1_000,
    "MILLI": 1_000,
    "SECOND": 1_000_000,
    "SECONDS": 1_000_000,
    "MINUTE": 60_000_000,
    "MINUTES": 60_000_000,
    "HOUR": 3_600_000_000,
    "HOURS": 3_600_000_000,
    "DAY": 86_400_000_000,
    "DAYS": 86_400_000_000,
}

_MEASURE_RE = re.compile(
    r"^(?:(?P<sem>RUNNING|FINAL)\s+)?"
    r"(?:(?P<fn>CLASSIFIER|MATCH_NUMBER|MATCH_ROWTIME)\s*\(\s*\)"
    r"|(?P<agg>FIRST|LAST|COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(?P<inner>[^)]*?)\s*\)"
    r"|(?P<var>\w+)\.(?P<col>\w+))\s+AS\s+(?P<alias>\w+)$",
    re.I,
)

_TOKEN_RE = re.compile(
    r"(?:(?P<var>\w+)|\(\s*(?P<alts>\w+(?:\s*\|\s*\w+)+)\s*\))"
    r"\s*(?P<quant>[+*?]\??|\{\s*\d+\s*(?:,\s*\d*)?\s*\}\??)?"
)


def _parse_quant(q: str | None) -> tuple[int, int | None, bool]:
    """Quantifier -> (lo, hi, greedy): + * ? and SQL/Flink bounded {m} {m,}
    {m,n}, each with an optional reluctant '?' suffix (+? *? ?? {m,n}? —
    reference Quantifier.reluctant / NFA lazy transitions)."""
    if not q:
        return (1, 1, True)
    greedy = True
    if q.endswith("?") and q != "?":
        greedy = False
        q = q[:-1]
    if q in _QUANTS:
        return (*_QUANTS[q], greedy)
    m = re.match(r"^\{\s*(\d+)\s*(?:(,)\s*(\d*)\s*)?\}$", q)
    lo = int(m.group(1))
    if not m.group(2):
        hi: int | None = lo  # {m} — exactly m
    elif m.group(3):
        hi = int(m.group(3))  # {m,n}
    else:
        hi = None  # {m,} — at least m
    if hi is not None and hi < lo:
        raise MatchRecognizeError(f"bad quantifier bounds {q!r}: max < min")
    return (lo, hi, greedy)


def _parse_pattern(
    pat: str,
) -> list[tuple[tuple[str, ...], tuple[int, int | None], bool]]:
    """Pattern -> [(alternatives, (lo, hi), greedy)]. A plain variable is a
    1-tuple of alternatives; ``(A|B|C)`` is a leftmost-preference branch set
    (reference Pattern.or_ / GroupPattern with alternation)."""
    toks = []
    rest = pat.strip()
    while rest:
        m = _TOKEN_RE.match(rest)
        if not m or not m.group(0).strip():
            raise MatchRecognizeError(f"unsupported PATTERN syntax near: {rest!r}")
        if m.group("var"):
            alts: tuple[str, ...] = (m.group("var"),)
        else:
            alts = tuple(v.strip() for v in m.group("alts").split("|"))
            if len(set(alts)) != len(alts):
                raise MatchRecognizeError(
                    f"duplicate variable in alternation: {m.group(0)!r}"
                )
        lo, hi, greedy = _parse_quant(m.group("quant"))
        toks.append((alts, (lo, hi), greedy))
        rest = rest[m.end():].strip()
    if not toks:
        raise MatchRecognizeError("empty PATTERN")
    return toks


# ---------------------------------------------------------------- r8:
# nested pattern grammar. The SQL standard (and the reference's Calcite
# grammar, parserImpls.ftl) allows parenthesized SEQUENCE groups with
# quantifiers and alternation of sequences — PATTERN (A (G*? A)* B),
# PATTERN ((A B)+ C). The flat token list above stays the fast path; a
# pattern with nested structure compiles to a small backtracking VM
# (reference NFACompiler.java builds the analogous NFA states).

_QUANT_RE = re.compile(r"[+*?]\??|\{\s*\d+\s*(?:,\s*\d*)?\s*\}\??")
_WORD_RE = re.compile(r"\w+")

# tree nodes:
#   ("var", alts: tuple[str, ...], lo, hi, greedy)
#   ("seq", [children])
#   ("group", child, lo, hi, greedy)
#   ("alt", [children])              # leftmost-preference branches


def _parse_pattern_tree(pat: str):
    s = pat.strip()
    pos = [0]

    def _ws():
        while pos[0] < len(s) and s[pos[0]].isspace():
            pos[0] += 1

    def _peek():
        _ws()
        return s[pos[0]] if pos[0] < len(s) else None

    def _quant():
        _ws()
        m = _QUANT_RE.match(s, pos[0])
        if not m:
            return (1, 1, True)
        pos[0] = m.end()
        return _parse_quant(m.group(0))

    def parse_alt():
        branches = [parse_seq()]
        while _peek() == "|":
            pos[0] += 1
            branches.append(parse_seq())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def parse_seq():
        items = []
        while _peek() not in (")", "|", None):
            items.append(parse_elem())
        if not items:
            raise MatchRecognizeError(
                f"empty pattern sequence in PATTERN near: {s[pos[0]:]!r}"
            )
        return items[0] if len(items) == 1 else ("seq", items)

    def parse_elem():
        ch = _peek()
        # PERMUTE(V1, V2, ...) as a pattern PRIMARY (r9 — the SQL
        # standard / reference parserImpls.ftl allow PERMUTE anywhere in
        # the pattern, not just as the whole pattern): expands to an
        # alternation of the k! variable sequences in lexicographic
        # order of the listed variables (the standard's preference).
        pm = re.compile(r"PERMUTE\s*\(", re.I).match(s, pos[0]) if ch else None
        if pm:
            end = s.find(")", pm.end())
            if end < 0:
                raise MatchRecognizeError(
                    f"unbalanced parentheses in PERMUTE: {pat!r}"
                )
            pvars = [v.strip() for v in s[pm.end():end].split(",")]
            if not all(re.fullmatch(r"\w+", v) for v in pvars):
                raise MatchRecognizeError(
                    "PERMUTE takes a plain variable list; quantified or "
                    f"grouped operands are not supported: {s[pm.start():end + 1]!r}"
                )
            if len(set(pvars)) != len(pvars):
                raise MatchRecognizeError("duplicate variable in PERMUTE")
            if len(pvars) > 6:
                raise MatchRecognizeError(
                    "PERMUTE supports at most 6 variables (the "
                    "alternation expands k! branches)"
                )
            pos[0] = end + 1
            lo, hi, greedy = _quant()
            branches = [
                ("seq", [("var", (v,), 1, 1, True) for v in perm])
                for perm in itertools.permutations(pvars)
            ]
            inner = ("alt", branches)
            if (lo, hi, greedy) == (1, 1, True):
                return inner
            return ("group", inner, lo, hi, greedy)
        if ch == "(":
            pos[0] += 1
            inner = parse_alt()
            if _peek() != ")":
                raise MatchRecognizeError(
                    f"unbalanced parentheses in PATTERN: {pat!r}"
                )
            pos[0] += 1
            lo, hi, greedy = _quant()
            # (A|B|C) with plain single-occurrence vars stays a flat
            # alternation element (the leftmost-preference branch set)
            if inner[0] == "alt" and all(
                b[0] == "var" and b[2:] == (1, 1, True) and len(b[1]) == 1
                for b in inner[1]
            ):
                alts = tuple(b[1][0] for b in inner[1])
                if len(set(alts)) != len(alts):
                    raise MatchRecognizeError(
                        f"duplicate variable in alternation: {alts}"
                    )
                return ("var", alts, lo, hi, greedy)
            if inner[0] == "var" and (lo, hi, greedy) == (1, 1, True):
                return inner
            if (lo, hi, greedy) == (1, 1, True):
                return inner
            return ("group", inner, lo, hi, greedy)
        _ws()
        m = _WORD_RE.match(s, pos[0])
        if not m:
            raise MatchRecognizeError(
                f"unsupported PATTERN syntax near: {s[pos[0]:]!r}"
            )
        pos[0] = m.end()
        lo, hi, greedy = _quant()
        return ("var", (m.group(0),), lo, hi, greedy)

    root = parse_alt()
    _ws()
    if pos[0] != len(s):
        raise MatchRecognizeError(
            f"unsupported PATTERN syntax near: {s[pos[0]:]!r}"
        )
    return root


def _tree_flat(node):
    """Flat [(alts, (lo, hi), greedy)] list when the tree has no nested
    structure (the existing vectorized matchers), else None."""
    items = node[1] if node[0] == "seq" else [node]
    out = []
    for it in items:
        if it[0] != "var":
            return None
        out.append((it[1], (it[2], it[3]), it[4]))
    return out


def _tree_vars(node) -> set[str]:
    k = node[0]
    if k == "var":
        return set(node[1])
    if k == "group":
        return _tree_vars(node[1])
    return set().union(*(_tree_vars(c) for c in node[1]))


def _anchor_alts(node):
    """Variables one of which MUST label the first row of any match (for
    candidate-start pruning), or None when the pattern can start with an
    optional element."""
    k = node[0]
    if k == "var":
        return node[1] if node[2] >= 1 else None
    if k == "seq":
        return _anchor_alts(node[1][0])
    if k == "group":
        return _anchor_alts(node[1]) if node[2] >= 1 else None
    branch = [_anchor_alts(b) for b in node[1]]
    if any(b is None for b in branch):
        return None
    return tuple(dict.fromkeys(v for b in branch for v in b))


def _compile_vm(node, enum_vars: frozenset = frozenset()):
    """Tree -> backtracking VM program. Ops:
      ("row", alts)       consume one row labeled with the leftmost
                          satisfying alternative (no backtrack over labels
                          — same preference rule as the flat matchers)
      ("split", a, b, e)  try pc=a first; on failure resume at pc=b.
                          e=True marks an ENUMERATING split (r9 — CEP
                          default-loop emission): the all-matches engine
                          explores BOTH branches, each completed match a
                          separate output; e=False splits stay
                          first-success backtracking.
      ("jmp", a)
      ("setreg", k)       loop-entry position register
      ("chkreg", k)       fail the branch when no row was consumed since
                          setreg k (empty-loop guard)
      ("match",)
    Bounded quantifiers unroll (pattern sizes are tiny); unbounded ones
    loop with the empty-loop guard. A quantifier's splits enumerate when
    the quantified node binds a variable in ``enum_vars`` (CEP loop
    element names; gap variables too under SKIP_TILL_ANY)."""
    prog: list[tuple] = []
    nregs = [0]

    def emit(op) -> int:
        prog.append(op)
        return len(prog) - 1

    def comp(nd) -> None:
        k = nd[0]
        if k == "var":
            _, alts, lo, hi, greedy = nd
            en = bool(enum_vars) and bool(set(alts) & enum_vars)
            for _ in range(lo):
                emit(("row", alts))
            if hi is None:
                l1 = emit(None)
                emit(("row", alts))
                emit(("jmp", l1))
                end = len(prog)
                prog[l1] = (
                    ("split", l1 + 1, end, en) if greedy
                    else ("split", end, l1 + 1, en)
                )
            else:
                sps = []
                for _ in range(hi - lo):
                    sps.append(emit(None))
                    emit(("row", alts))
                end = len(prog)
                for sp in sps:
                    prog[sp] = (
                        ("split", sp + 1, end, en) if greedy
                        else ("split", end, sp + 1, en)
                    )
        elif k == "seq":
            for c in nd[1]:
                comp(c)
        elif k == "alt":
            jmps = []
            for i, b in enumerate(nd[1]):
                last = i == len(nd[1]) - 1
                sp = None if last else emit(None)
                comp(b)
                if not last:
                    jmps.append(emit(None))
                    prog[sp] = ("split", sp + 1, len(prog), False)
            end = len(prog)
            for j in jmps:
                prog[j] = ("jmp", end)
        elif k == "group":
            _, child, lo, hi, greedy = nd
            en = bool(enum_vars) and bool(_tree_vars(child) & enum_vars)
            for _ in range(lo):
                comp(child)
            reg = nregs[0]
            nregs[0] += 1
            if hi is None:
                l1 = emit(("setreg", reg))
                sp = emit(None)
                comp(child)
                emit(("chkreg", reg))
                emit(("jmp", l1))
                end = len(prog)
                prog[sp] = (
                    ("split", sp + 1, end, en) if greedy
                    else ("split", end, sp + 1, en)
                )
            else:
                sps = []
                for _ in range(hi - lo):
                    emit(("setreg", reg))
                    sps.append(emit(None))
                    comp(child)
                    emit(("chkreg", reg))
                end = len(prog)
                for sp in sps:
                    prog[sp] = (
                        ("split", sp + 1, end, en) if greedy
                        else ("split", end, sp + 1, en)
                    )
        else:  # pragma: no cover
            raise MatchRecognizeError(f"unknown pattern node {k!r}")

    comp(node)
    emit(("match",))
    return prog, nregs[0]


#: scalar-function measure: fn(VAR.col) / fn(col) — the r13 UDF surface
#: (streaming MatchRecognizeITCase.scala:858 testUserDefinedFunctions:
#: prefix(A.name)); the function is applied to the variable's LAST bind
#: at emission time and may be any session-registered scalar function.
_FN_MEASURE_RE = re.compile(
    r"^(?:(?P<sem>RUNNING|FINAL)\s+)?(?P<fn>\w+)\s*\(\s*"
    r"(?:(?P<var>\w+)\s*\.\s*)?(?P<col>\w+)\s*\)\s+AS\s+(?P<alias>\w+)$",
    re.I,
)

_MEASURE_KEYWORDS = {
    "FIRST", "LAST", "COUNT", "SUM", "MIN", "MAX", "AVG", "CLASSIFIER",
    "MATCH_NUMBER", "MATCH_ROWTIME",
}


def _parse_measures(meas: str):
    out = []
    post_fns: dict[str, str] = {}
    for part in split_top_level(meas):
        m = _MEASURE_RE.match(part.strip())
        if not m:
            fm = _FN_MEASURE_RE.match(part.strip())
            if fm and fm.group("fn").upper() not in _MEASURE_KEYWORDS:
                # scalar UDF over a variable's (or the universal
                # variable's) LAST bind; applied post-emission
                out.append((
                    "LAST", fm.group("var"), fm.group("col"),
                    fm.group("alias"),
                    fm.group("sem").upper() if fm.group("sem") else None,
                ))
                post_fns[fm.group("alias")] = fm.group("fn")
                continue
            raise MatchRecognizeError(
                f"unsupported MEASURES expression: {part!r} (supported: "
                "VAR.col, FIRST/LAST(VAR.col), COUNT(VAR.*|*), "
                "SUM/MIN/MAX/AVG(VAR.col), scalarfn(VAR.col); aggregate "
                "UDFs and arithmetic expressions inside MEASURES are not "
                "supported — compute them over the emitted columns in "
                "the outer SELECT)"
            )
        alias = m.group("alias")
        # RUNNING/FINAL semantics prefix (SQL standard / reference
        # MatchCodeGenerator): None = default (RUNNING in ALL ROWS PER
        # MATCH, where ONE ROW mode evaluates at the final row anyway).
        sem = m.group("sem").upper() if m.group("sem") else None
        if m.group("fn"):
            out.append((m.group("fn").upper(), None, None, alias, sem))
            continue
        if m.group("var"):
            out.append(("FIRST", m.group("var"), m.group("col"), alias, sem))
            continue
        agg = m.group("agg").upper()
        inner = m.group("inner").strip()
        if agg == "COUNT":
            if inner == "*":
                out.append(("COUNT", None, None, alias, sem))
                continue
            mv = re.match(r"^(\w+)\.\*$", inner)
            if mv:
                out.append(("COUNT", mv.group(1), None, alias, sem))
                continue
            # COUNT(V.col) / COUNT(col): NON-NULL count over the
            # variable's (or the universal variable's) rows — SQL
            # standard (r12, flink-table batch MatchRecognizeITCase
            # testAggregatesWithNullInputs: COUNT(A.price) skips the
            # null-priced binds, COUNT(price) the null rows anywhere)
            mv = re.match(r"^(?:(\w+)\s*\.\s*)?(\w+)$", inner)
            if mv:
                out.append(
                    ("COUNT", mv.group(1), mv.group(2), alias, sem)
                )
                continue
        # qualified/unqualified column, optional logical offset (r12 —
        # flink-table batch MatchRecognizeITCase testLogicalOffsets /
        # ...WithStarVariable): FIRST/LAST(V.col, n) navigates V's
        # binds, FIRST/LAST(col, n) the UNIVERSAL variable (the whole
        # match). Offsets ride the kind as 'FIRST@n'; var=None marks
        # the universal variable (aggregates too: SUM(col) = over every
        # matched row).
        mv = re.match(
            r"^(?:(\w+)\s*\.\s*)?(\w+)(?:\s*,\s*(\d+))?$", inner
        )
        if not mv:
            raise MatchRecognizeError(
                f"unsupported {agg} argument in MEASURES: {inner!r} "
                "(aggregates take a plain VAR.col / col argument — "
                "arithmetic expressions and aggregate UDFs are not "
                "supported in the measure language; compute them over "
                "the emitted columns in the outer SELECT)"
            )
        var, col, off = mv.group(1), mv.group(2), mv.group(3)
        if off is not None and agg not in ("FIRST", "LAST"):
            raise MatchRecognizeError(
                f"{agg} takes no logical offset in MEASURES: {inner!r}"
            )
        kind = f"{agg}@{int(off)}" if off and int(off) else agg
        out.append((kind, var, col, alias, sem))
    return out, post_fns


_NAV_RE = re.compile(
    r"\b(?P<fn>PREV|NEXT)\s*\(\s*(?P<var>\w+)\s*\.\s*(?P<col>\w+)\s*"
    r"(?:,\s*(?P<n>\d+)\s*)?\)",
    re.I,
)


def _nav_col(fn: str, col: str, n: int) -> str:
    return f"__mr_{'prev' if fn.upper() == 'PREV' else 'next'}{n}_{col}"


_BIND_RE = re.compile(
    r"\b(?P<fn>LAST|FIRST)\s*\(\s*(?P<var>\w+)\s*\.\s*(?P<col>\w+)\s*"
    r"(?:,\s*(?P<n>\d+)\s*)?\)",
    re.I,
)

#: UNQUALIFIED navigation — the SQL-standard UNIVERSAL row pattern
#: variable (r12 — flink-table batch MatchRecognizeITCase
#: testLogicalOffsetsWithStarVariable): ``LAST(price, 1)`` without a
#: variable prefix navigates the rows of the WHOLE match (in DEFINE:
#: the rows matched so far plus the current candidate as the last row).
#: The single-word argument cannot match a qualified form (the dot
#: breaks the regex), so this runs safely after _BIND_RE.
_UBIND_RE = re.compile(
    r"\b(?P<fn>LAST|FIRST)\s*\(\s*(?P<col>\w+)\s*(?:,\s*(?P<n>\d+)\s*)?\)",
    re.I,
)

#: aggregates over a variable's BINDS inside DEFINE (r10 — the
#: reference IterativeCondition computes arbitrary reductions over
#: ctx.getEventsForPattern; SQL MR's RUNNING semantics: the own
#: variable's aggregate includes the current candidate row). _INCL
#: forces candidate inclusion (gap variables evaluating as-if-taken);
#: _EXCL forces exclusion (r11 — until() conditions: the reference
#: evaluates getEventsForPattern over ACCEPTED events only,
#: UntilConditionITCase testIterativeUntilCondition*).
_BIND_AGG_RE = re.compile(
    r"\b(?P<fn>SUM|MIN|MAX|AVG|COUNT)(?P<incl>_INCL|_EXCL)?\s*"
    r"\(\s*(?P<var>\w+)\s*\.\s*(?P<col>\w+)\s*\)",
    re.I,
)
def _outside_literals(expr: str, fn) -> str:
    """Apply ``fn`` only to the parts of ``expr`` outside string literals."""
    segs = re.split(r"(\"[^\"]*\"|'[^']*')", expr)
    for i in range(0, len(segs), 2):
        segs[i] = fn(segs[i])
    return "".join(segs)


class _NullType:
    """SQL NULL sentinel for the cross-variable predicate evaluator.

    Arithmetic with NULL propagates NULL (all dunders return the
    singleton); comparisons never reach its dunders because the AST
    transform below routes every comparison through ``_cmp3``, which
    yields UNKNOWN when either side is NULL. ``bool()`` raises so an
    untransformed use fails loudly instead of silently truthy."""

    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "NULL"

    def __bool__(self):
        raise TypeError("NULL has no truth value")

    def __abs__(self):
        return self

    def __neg__(self):
        return self


for _dunder in (
    "add radd sub rsub mul rmul truediv rtruediv floordiv rfloordiv "
    "mod rmod pow rpow"
).split():
    setattr(_NullType, f"__{_dunder}__", lambda self, other: self)

_NULL = _NullType()


class _UnknownType:
    """Kleene UNKNOWN: the third truth value. Coerces to False at the
    match decision (SQL: a predicate satisfies only when TRUE)."""

    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "UNKNOWN"


_UNKNOWN = _UnknownType()

_CMP3_OPS = {
    "Eq": _op.eq, "NotEq": _op.ne, "Lt": _op.lt,
    "LtE": _op.le, "Gt": _op.gt, "GtE": _op.ge,
}


def _and3(*thunks):
    """Kleene AND over LAZY operands (each a zero-arg callable): evaluates
    left-to-right and short-circuits on the first FALSE, like the
    reference's generated Java ``&&`` — a guarded operand (e.g. a division
    behind a zero check) is never evaluated once the guard decides."""
    saw_unknown = False
    for t in thunks:
        v = t()
        if v is _UNKNOWN or v is _NULL:
            saw_unknown = True
        elif not v:
            return False
    return _UNKNOWN if saw_unknown else True


def _or3(*thunks):
    """Kleene OR over LAZY operands; short-circuits on the first TRUE
    (Java ``||`` parity — see _and3)."""
    saw_unknown = False
    for t in thunks:
        v = t()
        if v is _UNKNOWN or v is _NULL:
            saw_unknown = True
        elif v:
            return True
    return _UNKNOWN if saw_unknown else False


def _not3(v):
    if v is _UNKNOWN or v is _NULL:
        return _UNKNOWN
    return not bool(v)


def _cmp3(left, pairs):
    """SQL three-valued comparison, including Python chained comparisons
    (a < b < c == AND of the pairwise comparisons). ``IS [NOT] NULL``
    arrives as an identity test against the NULL sentinel (Is/IsNot) and
    is two-valued by definition — it must NOT take the UNKNOWN escape."""
    saw_unknown = False
    cur = left
    for opname, right in pairs:
        if opname == "Is":
            if cur is not right:
                return False
        elif opname == "IsNot":
            if cur is right:
                return False
        elif cur is _NULL or right is _NULL:
            saw_unknown = True
        elif not _CMP3_OPS[opname](cur, right):
            return False
        cur = right
    return _UNKNOWN if saw_unknown else True


class _ThreeVL(ast.NodeTransformer):
    """Rewrite a compiled DEFINE predicate to Kleene logic: and/or/not ->
    _and3/_or3/_not3, comparisons -> _cmp3 (NULL operand -> UNKNOWN).
    Fixes the ADVICE r5 finding: plain-None semantics made ``x <> LAST(A.x)``
    TRUE and ``x = y`` TRUE when sides were NULL; SQL requires UNKNOWN."""

    def visit_BoolOp(self, node):
        self.generic_visit(node)
        fn = "__and3" if isinstance(node.op, ast.And) else "__or3"
        # Operands wrapped in zero-arg lambdas: _and3/_or3 evaluate them
        # left-to-right and short-circuit, so `C = 0 OR x / C > 1` never
        # touches the division once the guard decides (Java && / || parity).
        lazy = [
            ast.Lambda(
                args=ast.arguments(
                    posonlyargs=[], args=[], kwonlyargs=[],
                    kw_defaults=[], defaults=[],
                ),
                body=v,
            )
            for v in node.values
        ]
        return ast.Call(
            func=ast.Name(id=fn, ctx=ast.Load()), args=lazy,
            keywords=[],
        )

    def visit_UnaryOp(self, node):
        self.generic_visit(node)
        if isinstance(node.op, ast.Not):
            return ast.Call(
                func=ast.Name(id="__not3", ctx=ast.Load()),
                args=[node.operand], keywords=[],
            )
        return node

    def visit_Compare(self, node):
        self.generic_visit(node)
        pairs = ast.List(
            elts=[
                ast.Tuple(
                    elts=[ast.Constant(type(o).__name__), c],
                    ctx=ast.Load(),
                )
                for o, c in zip(node.ops, node.comparators)
            ],
            ctx=ast.Load(),
        )
        return ast.Call(
            func=ast.Name(id="__cmp3", ctx=ast.Load()),
            args=[node.left, pairs], keywords=[],
        )


def _compile_3vl(pyexpr: str, filename: str):
    # multi-line DEFINE clauses reach here with embedded newlines —
    # wrap in parens so eval-mode parsing accepts them (r12)
    tree = ast.parse(f"({pyexpr})", mode="eval")
    tree = _ThreeVL().visit(tree)
    ast.fix_missing_locations(tree)
    return compile(tree, filename, "eval")


def _sql_like(val, pat: str):
    """SQL LIKE with a CONSTANT pattern (r10 — iterative conditions
    often discriminate on name prefixes): % = any run, _ = any char;
    NULL operand yields UNKNOWN."""
    if val is _NULL or val is None:
        return _UNKNOWN
    rx = "".join(
        ".*" if c == "%" else "." if c == "_" else re.escape(c)
        for c in pat
    )
    return re.fullmatch(rx, str(val), re.S) is not None


def _sql_coalesce(*args):
    """SQL COALESCE under the 3VL evaluator (r11 — until() aggregate
    ports need it: SQL SUM over zero accepted events is NULL where the
    reference's Java loop sums to 0)."""
    for a in args:
        if a is not _NULL and a is not None:
            return a
    return _NULL


_3VL_GLOBALS = {
    "__and3": _and3, "__or3": _or3, "__not3": _not3, "__cmp3": _cmp3,
    "__NULL": _NULL, "__like": _sql_like, "abs": abs,
    "__coalesce": _sql_coalesce,
    "__builtins__": {},
}


def _sql_pred_to_python(expr: str, columns, var_msg: str) -> str:
    """Convert the (already bind/row-rewritten) SQL predicate fragment to a
    Python expression. Comparison, boolean and arithmetic operators plus
    ABS() only — the cross-variable evaluator runs per candidate row in
    Python, so the subset is deliberately small and errors loudly."""
    # LIKE with a CONSTANT pattern rewrites BEFORE the literal split (the
    # pattern literal must ride into the __like call; it stays a quoted
    # string, so the keyword/identifier rewrites below still skip it)
    expr = re.sub(
        r"(\w+)\s+NOT\s+LIKE\s+('(?:[^']*)')",
        r"not __like(\1, \2)", expr, flags=re.I,
    )
    expr = re.sub(
        r"(\w+)\s+LIKE\s+('(?:[^']*)')",
        r"__like(\1, \2)", expr, flags=re.I,
    )
    # EVERY rewrite runs only on segments OUTSIDE string literals — an
    # operator or keyword lookalike inside '...'/"..." must survive intact
    # (e.g. B.name = 'TRUE AND x=y').
    def ident_sub(im: re.Match) -> str:
        name = im.group(0)
        if name.startswith("__mr_"):  # PREV/NEXT nav alias column
            return f'__row("{name}")'
        if name in (
            "__bind", "__row", "__bagg", "__ubind", "__like", "__NULL",
            "__coalesce",
        ) or name in (
            "and", "or", "not", "is", "True", "False", "None", "abs",
        ):
            return name
        if name.upper() == "ABS":
            return "abs"
        if name.upper() == "COALESCE":
            return "__coalesce"
        if name in columns:
            return f'__row("{name}")'
        raise MatchRecognizeError(
            f"DEFINE {var_msg}: {name!r} is neither a column nor part of "
            "the supported cross-variable predicate subset (comparisons, "
            "AND/OR/NOT, arithmetic, ABS, COALESCE, LAST/FIRST binds). "
            "A scalar UDF runs in an own-row part of a cross-variable "
            "DEFINE, but not inside a bind-aggregate predicate; aggregate "
            "UDFs are not supported — express them via the builtin bind "
            "aggregates"
        )

    def convert(e: str) -> str:
        e = re.sub(r"<>", "!=", e)
        e = re.sub(r"(?<![<>!=])=(?!=)", "==", e)
        # IS [NOT] NULL first (two-valued identity tests against the
        # NULL sentinel — r10, the CEP gap-window conjunct needs them)
        e = re.sub(r"\bIS\s+NOT\s+NULL\b", " is not __NULL", e, flags=re.I)
        e = re.sub(r"\bIS\s+NULL\b", " is __NULL", e, flags=re.I)
        e = re.sub(r"\bAND\b", "and", e, flags=re.I)
        e = re.sub(r"\bOR\b", "or", e, flags=re.I)
        e = re.sub(r"\bNOT\b", "not", e, flags=re.I)
        e = re.sub(r"\bTRUE\b", "True", e, flags=re.I)
        e = re.sub(r"\bFALSE\b", "False", e, flags=re.I)
        e = re.sub(r"\bNULL\b", "__NULL", e, flags=re.I)
        return re.sub(r"\b[A-Za-z_]\w*\b", ident_sub, e)

    return _outside_literals(expr, convert)


def _parse_defines(
    defs: str, variables: set[str], columns
) -> tuple[dict[str, str], dict[str, tuple[str, str, int]], dict[str, str]]:
    """Returns (var -> JVM-evaluable predicate, nav columns needed,
    var -> Python cross-variable predicate).

    PREV/NEXT are SQL-standard PHYSICAL row navigation (the variable
    prefix only names the column — PREV(A.price) is the price of the row
    before the one under test, whatever variable it matched; reference
    MatchCodeGenerator generates exactly this offset access). They rewrite
    to precomputed lag/lead columns, so those predicates stay own-row and
    JVM-evaluated.

    LAST/FIRST of ANOTHER variable's matched rows — ``DEFINE B AS B.price
    < LAST(A.price)`` — and bare other-variable references (``A.price`` =
    LAST(A.price), SQL standard) DO need bind tracking (reference
    cep/nfa/NFA.java:76 sharedBuffer; MatchCodeGenerator.scala): such
    predicates compile to Python expressions evaluated against the
    in-flight match's binds (``cross`` return). An unmatched referenced
    variable yields NULL, which makes the comparison false — standard
    semantics, so a forward reference simply never matches."""
    out: dict[str, str] = {}
    nav: dict[str, tuple[str, str, int]] = {}
    cross: dict[str, str] = {}
    for part in split_top_level(defs):
        m = re.match(r"^(\w+)\s+AS\s+(.+)$", part.strip(), re.I | re.S)
        if not m:
            raise MatchRecognizeError(f"unsupported DEFINE clause: {part!r}")
        var, pred = m.group(1), m.group(2).strip()
        if var not in variables:
            raise MatchRecognizeError(f"DEFINE for unknown variable {var!r}")

        def nav_sub(nm: re.Match) -> str:
            n = int(nm.group("n") or 1)
            if n == 0:  # PREV(x, 0) is the current row
                return nm.group("col")
            alias = _nav_col(nm.group("fn"), nm.group("col"), n)
            nav[alias] = (nm.group("fn").upper(), nm.group("col"), n)
            return alias

        pred = _outside_literals(pred, lambda seg: _NAV_RE.sub(nav_sub, seg))
        # After navigation rewriting, LAST/FIRST(V.col) or a remaining
        # other-variable reference (both checked outside string literals)
        # makes this a cross-variable predicate.
        stripped = "".join(
            re.split(r"(\"[^\"]*\"|'[^']*')", pred)[0::2]
        )
        is_cross = (
            bool(_BIND_RE.search(stripped))
            or bool(_BIND_AGG_RE.search(stripped))
            or bool(_UBIND_RE.search(stripped))
            or any(
                re.search(rf"\b{other}\s*\.", stripped)
                for other in variables - {var}
            )
        )
        if not is_cross:
            # Own-row: strip the variable prefix, evaluate on the JVM.
            out[var] = _outside_literals(
                pred,
                lambda seg: re.sub(rf"\b{var}\s*\.\s*(\w+)", r"\1", seg),
            )
            continue

        def bind_sub(bm: re.Match) -> str:
            v, col = bm.group("var"), bm.group("col")
            if v not in variables:
                raise MatchRecognizeError(
                    f"DEFINE {var}: {bm.group('fn')}({v}.{col}) references "
                    "an unknown pattern variable"
                )
            n = int(bm.group("n") or 0)
            if v == var and bm.group("fn").upper() == "LAST" and n == 0:
                # RUNNING LAST of the own variable is the current row.
                return f'__row("{col}")'
            return (
                f'__bind("{v}", "{col}", "{bm.group("fn").upper()}", {n})'
            )

        def agg_sub(bm: re.Match) -> str:
            v, col = bm.group("var"), bm.group("col")
            if v not in variables:
                raise MatchRecognizeError(
                    f"DEFINE {var}: {bm.group('fn')}({v}.{col}) "
                    "aggregates an unknown pattern variable"
                )
            marker = (bm.group("incl") or "").upper()
            incl = 1 if marker == "_INCL" else (-1 if marker == "_EXCL" else 0)
            return (
                f'__bagg("{v}", "{col}", "{bm.group("fn").upper()}", '
                f"{incl})"
            )

        def ubind_sub(bm: re.Match) -> str:
            col = bm.group("col")
            if col not in columns:
                raise MatchRecognizeError(
                    f"DEFINE {var}: {bm.group('fn')}({col}, ...) "
                    "navigates the universal variable but "
                    f"{col!r} is not an input column"
                )
            n = int(bm.group("n") or 0)
            return f'__ubind("{col}", "{bm.group("fn").upper()}", {n})'

        def rewrite_binds(seg: str) -> str:
            seg = _BIND_AGG_RE.sub(agg_sub, seg)
            seg = _BIND_RE.sub(bind_sub, seg)
            seg = _UBIND_RE.sub(ubind_sub, seg)
            # Bare other-variable reference = LAST(V.col) (SQL standard).
            for other in variables - {var}:
                seg = re.sub(
                    rf"\b{other}\s*\.\s*(\w+)",
                    rf'__bind("{other}", "\1", "LAST", 0)',
                    seg,
                )
            return re.sub(rf"\b{var}\s*\.\s*(\w+)", r'__row("\1")', seg)

        try:
            cross[var] = _sql_pred_to_python(
                _outside_literals(pred, rewrite_binds), columns, var
            )
            _compile_3vl(cross[var], f"<mr-define-{var}>")
        except (MatchRecognizeError, SyntaxError):
            # own-row parts outside the Python subset (scalar functions,
            # typed literals, ...) evaluate on the JVM instead, as
            # precomputed columns: ("OWN", sql, 0) entries of ``nav``
            own: dict[str, str] = {}
            hoisted = _hoist_own_row(pred, var, variables, own, len(nav))
            if not own:
                raise
            for alias, sql in own.items():
                nav[alias] = ("OWN", sql, 0)
            cross[var] = _sql_pred_to_python(
                _outside_literals(hoisted, rewrite_binds), columns, var
            )
    return out, nav, cross


#: words that may precede a parenthesized sub-expression; any other word
#: before "(" makes it a function call or an IN list
_PAREN_KEYWORDS = {"NOT", "AND", "OR", "WHEN", "THEN", "ELSE"}


def _hoist_own_row(pred, var, variables, own: dict, base: int) -> str:
    """Replace each maximal parenthesized OWN-ROW sub-expression of the
    cross-variable predicate ``pred`` (no other variable, no bind or bind
    aggregate, no navigation) by a column alias ``__mr_own<k>``, adding
    ``alias -> sql`` (own-variable prefix stripped) to ``own``."""
    others = variables - {var}
    out: list[str] = []
    i = 0
    while i < len(pred):
        ch = pred[i]
        if ch in "'\"":  # a literal: copy verbatim
            j = pred.find(ch, i + 1) + 1 or len(pred)
            out.append(pred[i:j])
            i = j
            continue
        if ch != "(":
            out.append(ch)
            i += 1
            continue
        try:
            j = closing_paren(pred, i)
        except ValueError:
            j = len(pred)
        inner = pred[i + 1:j]
        bare = "".join(re.split(r"(\"[^\"]*\"|'[^']*')", inner)[0::2])
        word = re.search(r"(\w+)\s*$", pred[:i])
        if word and word.group(1).upper() not in _PAREN_KEYWORDS:
            out.append(pred[i:j + 1])  # function arguments / IN list
        elif not (
            _BIND_RE.search(bare) or _BIND_AGG_RE.search(bare)
            or _UBIND_RE.search(bare) or "__mr_" in bare
            or any(re.search(rf"\b{o}\s*\.", bare) for o in others)
        ):
            alias = f"__mr_own{base + len(own)}"
            own[alias] = _outside_literals(
                inner, lambda seg: re.sub(rf"\b{var}\s*\.\s*(\w+)", r"\1", seg)
            )
            out.append(alias)
        else:
            out.append(
                "(" + _hoist_own_row(inner, var, variables, own, base) + ")"
            )
        i = j + 1
    return "".join(out)


def _emit_measures(
    meas, assign, arr, vals, classifier=None, match_no=None, upto=None
) -> None:
    """Append one value per MEASURES entry for a completed match.

    ``upto`` is the current row's index in ALL ROWS PER MATCH mode:
    measures without an explicit FINAL prefix aggregate only the matched
    rows at or before it (RUNNING — the SQL-standard/reference default in
    that mode); ``upto=None`` (ONE ROW mode) is full-match FINAL."""

    def _vis(idx_list, sem):
        if upto is None or sem == "FINAL":
            return idx_list
        return [i for i in idx_list if i <= upto]

    for kind, var, col, _alias, sem in meas:
        if kind == "CLASSIFIER":
            vals.append(classifier)
            continue
        if kind == "MATCH_NUMBER":
            vals.append(match_no)
            continue
        if kind == "COUNT":
            if var is None:
                idxs = sorted({i for ix in assign.values() for i in ix})
            else:
                idxs = assign.get(var, [])
            idxs = _vis(idxs, sem)
            if col is None:
                vals.append(len(idxs))
            else:
                # COUNT(V.col)/COUNT(col): non-null values only (r12)
                a = arr[col]
                vals.append(sum(
                    1 for i in idxs
                    if a[i] is not None and a[i] == a[i]
                ))
            continue
        if var is None:
            # UNIVERSAL variable (r12): every matched row, stream order
            uni = sorted({i for ix in assign.values() for i in ix})
            idxs = _vis(uni, sem)
        else:
            idxs = _vis(assign.get(var, []), sem)
        base, _, offs = kind.partition("@")
        off = int(offs) if offs else 0
        if not idxs:
            vals.append(None)
            continue
        a = arr[col]
        if base == "FIRST":
            vals.append(a[idxs[off]] if off < len(idxs) else None)
        elif base == "LAST":
            k = len(idxs) - 1 - off
            vals.append(a[idxs[k]] if k >= 0 else None)
        else:
            # SQL aggregates skip NULLs (r12 — testAggregatesWithNull
            # Inputs: SUM over a null-holding column sums the non-null
            # values; an int column with nulls arrives as float + NaN)
            nn = [
                a[i] for i in idxs
                if a[i] is not None and a[i] == a[i]
            ]
            if not nn:
                vals.append(None)
            elif base == "SUM":
                vals.append(sum(nn))
            elif base == "MIN":
                vals.append(min(nn))
            elif base == "MAX":
                vals.append(max(nn))
            elif base == "AVG":
                vals.append(float(sum(nn)) / len(nn))


_SUM_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _measure_sql_type(kind: str, col_type: str | None) -> str:
    kind = kind.partition("@")[0]  # r12: FIRST@n/LAST@n offset forms
    if kind == "CLASSIFIER":
        return "string"
    if kind in ("COUNT", "MATCH_NUMBER"):
        return "bigint"
    if kind == "AVG":
        return "double"
    if kind == "SUM":
        return "bigint" if col_type in _SUM_INT_TYPES else "double"
    return col_type  # FIRST/LAST/MIN/MAX


def _normalize_quoted_vars(body: str) -> str:
    """r13 — backtick-quoted pattern variable names (streaming
    MatchRecognizeITCase.scala:52 / batch MatchRecognizeITCase.java:73
    use PATTERN (`A"` l C)): every quoted identifier appearing in the
    PATTERN clause is a pattern VARIABLE — rewrite it (everywhere in the
    body) to a plain generated name before parsing. Backtick-quoted
    COLUMN names never appear inside PATTERN, so they are untouched."""
    if "`" not in body:
        return body
    pm = re.search(r"\bPATTERN\s*\(", body, re.I)
    if pm is None:
        return body
    seg = body[pm.end(): closing_paren(body, pm.end() - 1)]
    names = sorted(set(re.findall(r"`([^`]+)`", seg)))
    for k, n in enumerate(names):
        body = body.replace(f"`{n}`", f"__mrq{k}")
    return body


# ---------------------------------------------------------------- the
# matcher. The batch compiler (run_partition below) and the streaming
# driver (streaming/match_stream.py) both run it — the reference runs one
# NFA (cep/nfa/NFA.java:76) behind StreamExecMatch and BatchExecMatch.
# A pattern compiles once to a MatchPlan; MatchPlan.matcher binds it to
# one buffer of rows. Every matcher scans [start, limit) and reports
# whether it wanted row ``limit`` itself: when ``limit`` is the stream's
# certified frontier, such a scan is undecided — the row it needs has not
# been certified yet.


def _sql_value(x):
    return _NULL if x is None or x != x else x  # None/NaN -> SQL NULL


def _row_evaluator(sat, cross_fns: dict, value):
    """The 3VL row evaluator: ``ok(v, j, binds)`` — does row j satisfy
    variable v's DEFINE, given the in-flight match's binds (var -> row
    indices)? Own-row variables read the precomputed ``sat[v][j]``;
    cross-variable ones (LAST/FIRST binds, bind aggregates, universal
    navigation — and PREV/NEXT on the stream) evaluate their compiled
    3VL code, reading columns through ``value(col, j)``. The reference
    evaluates the same view of its shared buffer (NFA.java:76)."""
    # one reusable eval-globals dict: rebuilding {**_3VL_GLOBALS, ...}
    # per candidate row was measurable on bind-heavy patterns
    eval_g = dict(_3VL_GLOBALS)

    def ok(v: str, j: int, binds: dict) -> bool:
        code = cross_fns.get(v)
        if code is None:
            return bool(sat[v][j])

        def __row(col):
            return _sql_value(value(col, j))

        def __bind(bv, col, fn, off):
            idxs = binds.get(bv, ())
            if bv == v:
                idxs = list(idxs) + [j]  # RUNNING: current row is in v
            k = (len(idxs) - 1 - off) if fn == "LAST" else off
            if k < 0 or k >= len(idxs):
                return _NULL  # unmatched variable / offset: SQL NULL
            return _sql_value(value(col, idxs[k]))

        def __bagg(bv, col, fn, incl=0):
            # aggregate over the variable's binds (the reference's
            # IterativeCondition reductions over ctx.getEventsForPattern;
            # RUNNING: the own variable includes the current candidate
            # row; _INCL marks a gap variable evaluating the take
            # condition as-if-taken; _EXCL (-1) marks an until()
            # aggregate — accepted events only, never the candidate)
            idxs = binds.get(bv, ())
            if incl > 0 or (incl == 0 and bv == v):
                idxs = list(idxs) + [j]
            vals = [
                x for x in (value(col, i) for i in idxs)
                if x is not None and x == x
            ]
            if fn == "COUNT":
                return len(vals)
            if not vals:
                return _NULL
            if fn == "SUM":
                return sum(vals)
            if fn == "MIN":
                return min(vals)
            if fn == "MAX":
                return max(vals)
            return sum(vals) / len(vals)  # AVG

        def __ubind(col, fn, off):
            # UNIVERSAL variable navigation: the match's rows so far in
            # stream order, candidate last; offsets out of range are NULL
            rows = sorted(i for ix in binds.values() for i in ix)
            rows.append(j)
            k = (len(rows) - 1 - off) if fn == "LAST" else off
            if k < 0 or k >= len(rows):
                return _NULL
            return _sql_value(value(col, rows[k]))

        eval_g["__row"], eval_g["__bind"] = __row, __bind
        eval_g["__bagg"], eval_g["__ubind"] = __bagg, __ubind
        try:
            res = eval(code, eval_g)  # noqa: S307 - validated subset
        except (TypeError, ZeroDivisionError):
            # untransformed NULL use / div-by-zero -> not TRUE (SQL)
            return False
        # Kleene: the row matches only when the predicate is TRUE;
        # UNKNOWN and NULL coerce to false (SQL WHERE semantics).
        return res is not _UNKNOWN and res is not _NULL and bool(res)

    return ok


def _label(sat, alts, j: int) -> str:
    """The leftmost alternative row j satisfies (the reference's branch
    preference)."""
    for v in alts:
        if sat[v][j]:
            return v
    raise AssertionError("unlabelable matched row")


def _match_flat(pat, elem_ok, sat, start: int, limit: int):
    """Leftmost match of a flat own-row pattern from ``start``; returns
    ``((var -> sorted rows, end_exclusive) | None, wanted_limit)``.
    Greedy elements try the longest extension first, reluctant ones the
    shortest (the reference's greedy vs lazy transitions); backtracking
    only re-picks repetition counts — own-row predicates need no other
    backtracking. A reluctant element reads a row only to try a longer
    take."""
    edge = False

    def takes(ok, ri, lo, hi):
        nonlocal edge
        n = 0
        while True:
            if n >= lo:
                yield n
            if hi is not None and n >= hi:
                return
            if ri + n >= limit:
                edge = True
                return
            if not ok[ri + n]:
                return
            n += 1

    def rec(pi: int, ri: int):
        nonlocal edge
        if pi == len(pat):
            return {}, ri
        alts, (lo, hi), greedy = pat[pi]
        ok = elem_ok[pi]
        if greedy:
            n = 0
            while hi is None or n < hi:
                if ri + n >= limit:
                    edge = True
                    break
                if not ok[ri + n]:
                    break
                n += 1
            order = range(n, lo - 1, -1)
        else:
            order = takes(ok, ri, lo, hi)
        for take in order:
            res = rec(pi + 1, ri + take)
            if res is not None:
                assign, end = res
                if take:
                    assign = dict(assign)
                    for j in range(ri, ri + take):
                        v = _label(sat, alts, j)
                        assign[v] = [j] + assign.get(v, [])
                return assign, end
        return None

    res = rec(0, start)
    if res is None or res[1] == start:
        return None, edge  # no match / zero-width — never emitted
    # rec prepends per element right-to-left; restore row order
    assign, end = res
    return ({v: sorted(ix) for v, ix in assign.items()}, end), edge


def _match_binds(pat, ok, start: int, limit: int):
    """Bind-tracking variant of _match_flat for cross-variable DEFINEs:
    forward DFS carrying var -> [row indices]. Labels and extension
    validity are evaluated under the binds accumulated so far, so
    LAST(A.x)/FIRST(A.x) see exactly the reference NFA's shared-buffer
    view. Backtracking re-picks repetition counts only — label choices
    for a shorter take are prefixes of the longer scan (row k's
    evaluation only ever saw rows < k)."""
    edge = False

    def rec(pi: int, ri: int, binds: dict):
        if pi == len(pat):
            return binds, ri
        alts, (lo, hi), greedy = pat[pi]
        cur = {v: list(x) for v, x in binds.items()}
        labels: list[str] = []

        def takes():
            nonlocal edge
            while True:
                n = len(labels)
                if n >= lo:
                    yield n
                if hi is not None and n >= hi:
                    return
                j = ri + n
                if j >= limit:
                    edge = True
                    return
                v_hit = next((v for v in alts if ok(v, j, cur)), None)
                if v_hit is None:
                    return
                labels.append(v_hit)
                cur.setdefault(v_hit, []).append(j)

        order = takes()
        for take in list(order)[::-1] if greedy else order:
            nb = {v: list(x) for v, x in binds.items()}
            for t in range(take):
                nb.setdefault(labels[t], []).append(ri + t)
            res = rec(pi + 1, ri + take, nb)
            if res is not None:
                return res
        return None

    res = rec(0, start, {})
    if res is None or res[1] == start:
        return None, edge
    binds, end = res
    return ({v: sorted(i) for v, i in binds.items() if i}, end), edge


def _match_vm(prog, nregs: int, ok, start: int, limit: int):
    """Backtracking VM for patterns with nested sequence groups
    (PATTERN (A (G*? A)* B), quantified GroupPattern groups, alternation
    of sequences). Explicit-stack regex backtracking: state is (pc, row
    index, bind-trail length, loop registers); labels take the leftmost
    satisfying alternative with no backtrack over label choice (same
    preference as the flat matchers); the empty-loop guard (chkreg)
    kills a loop iteration that consumed no rows."""
    binds: dict[str, list[int]] = {}
    trail: list[str] = []
    bstack: list[tuple] = []
    regs = [-1] * nregs
    pc, ri = 0, start
    edge = False

    def _backtrack() -> bool:
        nonlocal pc, ri, regs
        if not bstack:
            return False
        pc, ri, tl, regs = bstack.pop()
        while len(trail) > tl:
            binds[trail.pop()].pop()
        return True

    while True:
        op = prog[pc]
        o = op[0]
        if o == "row":
            hit = None
            if ri >= limit:
                edge = True
            else:
                hit = next((a for a in op[1] if ok(a, ri, binds)), None)
            if hit is None:
                if not _backtrack():
                    return None, edge
                continue
            binds.setdefault(hit, []).append(ri)
            trail.append(hit)
            ri += 1
            pc += 1
        elif o == "split":
            bstack.append((op[2], ri, len(trail), regs[:]))
            pc = op[1]
        elif o == "jmp":
            pc = op[1]
        elif o == "setreg":
            regs[op[1]] = ri
            pc += 1
        elif o == "chkreg":
            if regs[op[1]] == ri:
                if not _backtrack():
                    return None, edge
            else:
                pc += 1
        else:  # match
            if ri > start:
                return (
                    {v: list(ix) for v, ix in binds.items() if ix}, ri
                ), edge
            if not _backtrack():
                return None, edge


def _match_vm_all(prog, nregs: int, ok, gaps, start: int, limit: int):
    """The reference CEP's default emission (NFAITCase.java:1848-1900):
    ALL matches beginning at ``start``, as a list. Enum-flagged splits
    (loop counts, optional branches, SKIP_TILL_ANY gap extents) explore
    BOTH branches, each completed path a separate match; normal splits
    keep first-success backtracking (a greedy()/reluctant() pin, or a
    deterministic SKIP_TILL_NEXT ignore gap whose take/skip branches are
    mutually exclusive). Matches dedup on positive-variable binds —
    IGNOREd gap rows (``gaps``) are not part of a match's identity.

    Explicit-frame DFS (no Python recursion: depth is bounded by heap,
    not the C stack). Each frame is one subtree [pc, ri, regs, consumed,
    phase, split_op, r1]: phase RUN = running, NORM = awaiting the take
    branch of a normal split (prune the skip branch on success), ENUM1/
    ENUM2 = awaiting the branches of an enum-flagged split. ``ret``
    carries the just-popped frame's "subtree completed >= 1 match"."""
    out = []
    seen: set[tuple] = set()
    binds: dict[str, list[int]] = {}
    edge = False
    RUN, NORM, ENUM1, ENUM2 = 0, 1, 2, 3

    def _emit(ri: int) -> bool:
        if ri == start:
            return False  # zero-width — never a match
        a = {v: list(ix) for v, ix in binds.items() if ix and v not in gaps}
        if not a:
            return False  # gap-only consumption
        key = tuple(sorted((v, tuple(ix)) for v, ix in a.items()))
        if key not in seen:
            seen.add(key)
            out.append((a, ri))
            if len(out) > 10_000:
                raise MatchRecognizeError(
                    "CEP multi-match emission exceeded 10000 matches for "
                    "one start row — bound the pattern with within() or "
                    "times(m,n), or pin greedy()/reluctant()"
                )
        return True

    def _pop(f) -> None:
        for v in f[3]:
            binds[v].pop()
        stack.pop()

    stack = [[0, start, [-1] * nregs, [], RUN, None, False]]
    ret = False
    while stack:
        f = stack[-1]
        if f[4] == NORM:
            if ret:  # take branch matched — prune skip branch
                _pop(f)
                continue  # ret stays True
            f[0] = f[5][2]  # fall through to the skip branch
            f[4] = RUN
        elif f[4] == ENUM1:
            f[6] = ret
            f[4] = ENUM2
            stack.append([f[5][2], f[1], f[2][:], [], RUN, None, False])
            continue
        elif f[4] == ENUM2:
            ret = f[6] or ret
            _pop(f)
            continue
        # RUN: execute linear ops until a split/frame exit
        pc, ri, regs = f[0], f[1], f[2]
        while True:
            op = prog[pc]
            o = op[0]
            if o == "row":
                hit = None
                if ri >= limit:
                    edge = True
                else:
                    hit = next((a for a in op[1] if ok(a, ri, binds)), None)
                if hit is None:
                    ret = False
                    _pop(f)
                    break
                binds.setdefault(hit, []).append(ri)
                f[3].append(hit)
                ri += 1
                pc += 1
            elif o == "split":
                f[0], f[1], f[4], f[5] = pc, ri, (ENUM1 if op[3] else NORM), op
                stack.append([op[1], ri, regs[:], [], RUN, None, False])
                break
            elif o == "jmp":
                pc = op[1]
            elif o == "setreg":
                regs[op[1]] = ri
                pc += 1
            elif o == "chkreg":
                if regs[op[1]] == ri:
                    ret = False
                    _pop(f)
                    break
                pc += 1
            else:  # match
                ret = _emit(ri)
                _pop(f)
                break
    return out, edge


def _match_permute(order, sat, start: int, limit: int):
    """PERMUTE(v1..vk): the k rows from ``start`` must satisfy some
    permutation of the variables; permutations are tried in
    lexicographic order of the listed variables (SQL standard
    preference), first hit wins."""
    k = len(order[0])
    if start + k > limit:
        return None, True
    for perm in order:
        if all(sat[v][start + j] for j, v in enumerate(perm)):
            return ({v: [start + j] for j, v in enumerate(perm)}, start + k), False
    return None, False


def _permute_tree(pvars):
    """PERMUTE(v1..vk) as an alternation of the k! variable sequences, in
    lexicographic order of the listed variables (the SQL standard's
    preference; the reference's parserImpls.ftl expands it the same)."""
    return ("alt", [
        ("seq", [("var", (v,), 1, 1, True) for v in perm])
        for perm in itertools.permutations(pvars)
    ])


def _cross_columns(codes) -> set[str]:
    """The input columns the 3VL predicates ``codes`` read."""
    return {
        c for code in codes
        for c in re.findall(r'__(?:row|bind|bagg)\("(?:\w+", ")?(\w+)"', code)
        + re.findall(r'__ubind\("(\w+)"', code)
    }


def _skip_target(skip: tuple[str, str], match_start: int, assign) -> int:
    """AFTER MATCH SKIP TO FIRST/LAST <var>: the resume row (reference
    SkipToFirst/SkipToLast). A target that cannot advance past the match
    start raises — the reference's infinite-loop guard."""
    which, var = skip
    idxs = assign.get(var)
    if not idxs:
        raise MatchRecognizeError(
            f"AFTER MATCH SKIP TO {which.upper()} {var}: variable "
            "did not participate in the match"
        )
    r = idxs[0] if which == "first" else idxs[-1]
    if r <= match_start:
        raise MatchRecognizeError(
            f"AFTER MATCH SKIP TO {which.upper()} {var} cannot "
            "advance past the match start (infinite loop)"
        )
    return r


class MatchPlan:
    """One pattern, compiled for matching from a start row.

    The matcher is picked once: a standalone PERMUTE over own-row
    variables searches permutations; CEP multi-match emission (enum
    variables) runs the all-matches VM; other nested structure — and
    PERMUTE with cross-variable binds — runs the backtracking VM; a flat
    pattern runs the bind-tracking DFS when some DEFINE is
    cross-variable, else the own-row DFS. ``cross_codes`` maps variables
    to their 3VL Python predicates (_parse_defines)."""

    def __init__(
        self, tree, cross_codes: dict,
        enum_vars: frozenset = frozenset(),
        gap_vars: frozenset = frozenset(),
        permute_vars: list | None = None,
    ):
        self.cross_fns = {
            v: _compile_3vl(code, f"<mr-define-{v}>")
            for v, code in cross_codes.items()
        }
        self.gaps = frozenset(gap_vars)
        self.pat = self.prog = self.anchor = self.order = None
        self.nregs = 0
        if permute_vars is not None and not cross_codes:
            self.kind = "permute"
            self.order = list(itertools.permutations(permute_vars))
            return
        if permute_vars is not None:
            # the bind trail gives each permutation a stable bind order
            if len(permute_vars) > 6:
                raise MatchRecognizeError(
                    "PERMUTE with cross-variable DEFINE binds supports at "
                    "most 6 variables (the alternation expands k! branches)"
                )
            tree = _permute_tree(permute_vars)
        # multi-match emission explores enum splits exhaustively — always
        # the VM, even for flat patterns (a flat A+ still branches into
        # every prefix, testStrictOneOrMore)
        self.pat = None if enum_vars else _tree_flat(tree)
        if self.pat is not None:
            self.kind = "binds" if cross_codes else "flat"
        else:
            self.prog, self.nregs = _compile_vm(tree, frozenset(enum_vars))
            self.anchor = _anchor_alts(tree)
            self.kind = "all" if enum_vars else "vm"

    def elem_ok(self, sat) -> list:
        """Per flat element: a row can extend the repetition iff ANY
        alternative holds (``sat`` values are numpy bool arrays)."""
        out = []
        for alts, _q, _g in self.pat or ():
            ok = sat[alts[0]]
            for v in alts[1:]:
                ok = ok | sat[v]
            out.append(ok)
        return out

    def matcher(self, sat, value):
        """Bind the plan to one buffer of rows: ``sat`` maps each
        variable to its own-row truth per row, ``value(col, j)`` reads a
        column for cross-variable DEFINEs. Returns ``match(start, limit,
        frontier=None) -> (matches, at_frontier)``: ``matches`` lists
        ``(var -> rows, end_exclusive)`` — at most one unless the plan
        enumerates — and ``at_frontier`` says a scan wanted row
        ``limit`` while ``limit == frontier``."""
        kind = self.kind
        if kind == "permute":
            run = functools.partial(_match_permute, self.order, sat)
        elif kind == "flat":
            run = functools.partial(
                _match_flat, self.pat, self.elem_ok(sat), sat
            )
        else:
            ok = _row_evaluator(sat, self.cross_fns, value)
            if kind == "binds":
                run = functools.partial(_match_binds, self.pat, ok)
            elif kind == "vm":
                run = functools.partial(_match_vm, self.prog, self.nregs, ok)
            else:
                run = functools.partial(
                    _match_vm_all, self.prog, self.nregs, ok, self.gaps
                )

        def match(start: int, limit: int, frontier=None):
            res, edge = run(start, limit)
            if kind != "all":
                res = [] if res is None else [res]
            return res, edge and limit == frontier

        return match


def compile_match_recognize(
    spark: SparkSession, source: DataFrame, body: str,
    cep_enum_vars: frozenset | None = None,
    cep_gap_vars: frozenset | None = None,
) -> DataFrame:
    """Compile one MATCH_RECOGNIZE(...) body against ``source``.

    Returns a DataFrame with PARTITION BY columns + one row per match
    carrying the MEASURES (ONE ROW PER MATCH semantics).

    ``cep_enum_vars`` (r9 — set by the CEP Pattern compiler, never by
    SQL) switches the matcher to the reference's default MULTI-MATCH
    emission (NFAITCase.java:1848-1900): quantifier splits binding these
    variables enumerate — every viable loop take / optional branch is a
    separate match per start row. ``cep_gap_vars`` names the compiler's
    ignore-edge variables, excluded from match identity and measures
    (the reference's IGNOREd events are not part of a match)."""
    import pandas as pd

    body = _normalize_quoted_vars(body)
    m = _BODY_RE.search(body.strip())
    if not m:
        raise MatchRecognizeError(
            "could not parse MATCH_RECOGNIZE body — expected PARTITION BY, "
            "ORDER BY, MEASURES, [ONE ROW PER MATCH], [AFTER MATCH SKIP ...], "
            "PATTERN (...), DEFINE in that order"
        )
    # r13 — PARTITION BY is optional (streaming MatchRecognizeITCase
    # .scala:52 etc. run globally): a non-partitioned pattern matches
    # over ONE totally-ordered stream, modeled as a synthetic constant
    # key (the reference requires parallelism 1 there for the same
    # reason); the synthetic column never reaches the output.
    synthetic_part = m.group("part") is None
    if synthetic_part:
        source = source.withColumn("__mr_gkey", F.lit(0))
        part_cols = ["__mr_gkey"]
    else:
        part_cols = [c.strip() for c in m.group("part").split(",")]
    # PERMUTE (r6 — SQL standard / reference parserImpls.ftl MATCH_RECOGNIZE
    # grammar): PATTERN (PERMUTE(A, B, C)) matches the variables in ANY
    # order, preferring permutations in lexicographic order of the listed
    # variables. Supported standalone (the reference's tests use it so);
    # mixing PERMUTE with other pattern elements errors loudly below.
    permute_vars: list[str] | None = None
    pat_text = m.group("pat").strip()
    pm = re.match(r"^PERMUTE\s*\(\s*([\w\s,]+)\s*\)$", pat_text, re.I)
    if pm:
        # standalone PERMUTE keeps the vectorized permutation search;
        # PERMUTE mixed with other elements (r9) parses as an
        # alternation node in the pattern tree and runs on the VM
        permute_vars = [v.strip() for v in pm.group(1).split(",")]
        if len(set(permute_vars)) != len(permute_vars):
            raise MatchRecognizeError("duplicate variable in PERMUTE")
    # ORDER BY with per-column ASC/DESC (r5 — the matcher walks rows in
    # whatever total order the in-partition sort produced, so direction
    # only changes the sort and the PREV/NEXT window spec).
    order_specs: list[tuple[str, bool]] = []
    for oc in m.group("order").split(","):
        oc = oc.strip()
        om = re.match(r"^(\w+)(?:\s+(ASC|DESC))?$", oc, re.I)
        if not om:
            raise MatchRecognizeError(f"unsupported ORDER BY item: {oc!r}")
        order_specs.append(
            (om.group(1), bool(om.group(2)) and om.group(2).upper() == "DESC")
        )
    order_cols = [c for c, _ in order_specs]
    cep_enum = frozenset(cep_enum_vars or ())
    cep_gaps = frozenset(cep_gap_vars or ())
    tree = None
    if permute_vars is not None:
        # the skip-target check below sees k single-variable {1,1}
        # elements; MatchPlan switches to the permutation search.
        pattern = [((v,), (1, 1), True) for v in permute_vars]
        variables = set(permute_vars)
        if cep_enum:
            raise MatchRecognizeError(
                "PERMUTE with CEP multi-match emission is not supported"
            )
    else:
        tree = _parse_pattern_tree(m.group("pat"))
        pattern = None if cep_enum else _tree_flat(tree)
        variables = _tree_vars(tree)
    measures, post_fns = _parse_measures(m.group("meas"))
    # MATCH_ROWTIME() (r12 — Flink's rowtime-of-the-match function,
    # flink-table batch MatchRecognizeITCase
    # testWindowedGroupingAppliedToMatchRecognize): the event time of
    # the match's LAST row == universal LAST of the first ORDER BY
    # column
    measures = [
        ("LAST", None, order_cols[0], alias, sem)
        if kind == "MATCH_ROWTIME" else (kind, var, col, alias, sem)
        for kind, var, col, alias, sem in measures
    ]
    src_col_names = {f.name for f in source.schema.fields}
    defines, nav_cols, cross_defs = _parse_defines(
        m.group("defs"), variables, src_col_names
    )
    # skip spec: "past_last" | "to_next" | ("first"|"last", var)
    skip: str | tuple[str, str] = "past_last"
    if m.group("skip"):
        sk = re.sub(r"\s+", " ", m.group("skip").strip()).upper()
        if sk == "TO NEXT ROW":
            skip = "to_next"
        elif sk.startswith("TO FIRST ") or sk.startswith("TO LAST "):
            _, which, var = sk.split(" ")
            if var not in variables:
                raise MatchRecognizeError(
                    f"AFTER MATCH SKIP TO {which} {var}: unknown variable"
                )
            first_alts, (first_lo, _fh), _fg = (
                pattern[0] if pattern is not None else ((), (0, None), True)
            )
            if which == "FIRST" and first_alts == (var,) and first_lo >= 1:
                # The skip target would always be the match start — the
                # reference rejects this as a guaranteed infinite loop.
                raise MatchRecognizeError(
                    f"AFTER MATCH SKIP TO FIRST {var} cannot advance past "
                    "the match start (infinite loop)"
                )
            skip = (which.lower(), var)
    if cep_enum and skip != "to_next":
        raise MatchRecognizeError(
            "CEP multi-match emission requires AFTER MATCH SKIP TO NEXT "
            "ROW (the reference CEP's no-skip strategy)"
        )
    all_rows = bool(m.group("mode") and m.group("mode").upper().startswith("ALL"))
    if cep_enum and all_rows:
        raise MatchRecognizeError(
            "CEP multi-match emission supports ONE ROW PER MATCH only"
        )
    within_us = None
    if m.group("within_n"):
        unit = m.group("within_u").upper()
        if unit not in _WITHIN_UNIT_US:
            raise MatchRecognizeError(f"unsupported WITHIN unit {unit!r}")
        within_us = int(m.group("within_n")) * _WITHIN_UNIT_US[unit]

    # SUBSET (r6 — SQL standard / reference grammar): union variables,
    # usable in MEASURES (FIRST/LAST/aggregates over the merged row set).
    # DEFINE references to subsets are NOT supported and error in
    # _parse_defines (unknown variable) — loudly, per the module contract.
    subsets: dict[str, tuple[str, ...]] = {}
    if m.group("subset"):
        for part in split_top_level(m.group("subset")):
            sm = re.match(
                r"^(\w+)\s*=\s*\(\s*([\w\s,]+)\s*\)$", part.strip()
            )
            if not sm:
                raise MatchRecognizeError(
                    f"unsupported SUBSET item: {part.strip()!r} "
                    "(expected NAME = (VAR, VAR, ...))"
                )
            sname = sm.group(1)
            members = tuple(v.strip() for v in sm.group(2).split(","))
            if sname in variables:
                raise MatchRecognizeError(
                    f"SUBSET name {sname!r} collides with a pattern variable"
                )
            for v in members:
                if v not in variables:
                    raise MatchRecognizeError(
                        f"SUBSET {sname}: unknown member variable {v!r}"
                    )
            subsets[sname] = members

    type_of = dict((f.name, f.dataType.simpleString()) for f in source.schema.fields)

    for alias, fname in post_fns.items():
        try:
            known = spark.catalog.functionExists(fname)
        except Exception:  # pragma: no cover - catalog hiccup
            known = False
        if not known:
            raise MatchRecognizeError(
                f"MEASURES references unknown scalar function {fname!r} "
                "— register it first (spark.udf.register / CREATE "
                "FUNCTION). Aggregate UDFs inside MEASURES/DEFINE are "
                "not supported: the reference evaluates them over the "
                "variable's binds inside the NFA; compute them over the "
                "emitted columns in the outer SELECT instead"
            )

    for kind, var, col, alias, _sem in measures:
        if var is not None and var not in variables and var not in subsets:
            raise MatchRecognizeError(f"MEASURES references unknown variable {var!r}")
        # r13 (ADVICE r12 #2): COUNT(A) where A is a pattern variable is
        # a common misspelling of COUNT(A.*) — the universal-variable
        # form would read it as a non-null count of an input COLUMN
        # named 'A' and blow up (or silently count a like-named column).
        # Reject loudly at compile time, where variables and source
        # columns are both known.
        if var is None and col is not None and col not in type_of:
            base_kind = kind.split("@")[0]
            if col in variables or col in subsets:
                raise MatchRecognizeError(
                    f"{base_kind}({col}): {col!r} is a pattern variable, "
                    f"not an input column — use {base_kind}({col}.*) to "
                    "aggregate over the variable's rows"
                )
            raise MatchRecognizeError(
                f"MEASURES references unknown column {col!r}"
            )

    # 1. One hash exchange on the partition keys (the distribution
    #    StreamExecMatch requires) + an in-partition sort. Done FIRST so
    #    the PREV/NEXT lag/lead window below reuses this exact exchange
    #    and sort (EnsureRequirements sees them satisfied) instead of
    #    planning its own.
    order_exprs = [
        F.col(c).desc() if is_desc else F.col(c).asc()
        for c, is_desc in order_specs
    ]
    # Explicit partition count (r13): without it AQE coalesces this
    # exchange to the 64 MB advisory size — sized for JVM shuffle
    # economics, not for the Python matcher it feeds, whose per-byte
    # cost is orders of magnitude higher (measured at sf0.1: the whole
    # NFA scan collapsed onto 1-2 cores). r14: the count is derived from
    # the input's size estimate with a bytes-per-partition floor
    # (parallelism.py) — full conf width for any non-trivial input,
    # without paying near-empty Python tasks on KB-scale ones.
    from apache_flink_spark.parallelism import python_stage_partitions

    n_shuffle = python_stage_partitions(source)
    work = source.repartition(
        n_shuffle, *[F.col(c) for c in part_cols]
    ).sortWithinPartitions(*part_cols, *order_exprs)

    # 2. PREV/NEXT physical navigation -> lag/lead columns per key.
    if nav_cols:
        from pyspark.sql import Window as _W

        wspec = _W.partitionBy(*part_cols).orderBy(*order_exprs)
        for alias, (fn, col, n) in sorted(nav_cols.items()):
            if fn == "OWN":
                work = work.withColumn(alias, F.expr(col))
                continue
            if col not in type_of:
                raise MatchRecognizeError(
                    f"unknown column in PREV/NEXT navigation: {col!r}"
                )
            work = work.withColumn(
                alias, (F.lag if fn == "PREV" else F.lead)(col, n).over(wspec)
            )

    # 3. JVM-side predicate evaluation: one boolean column per variable.
    #    An undefined variable matches every row (SQL standard).
    for var in sorted(variables):
        pred = defines.get(var)
        work = work.withColumn(
            f"__mr_{var}",
            F.expr(pred).cast("boolean") if pred else F.lit(True),
        )
    src_cols = [
        f.name for f in source.schema.fields if f.name != "__mr_gkey"
    ]
    out_fields = []
    if all_rows:
        # ALL ROWS PER MATCH: every input column of each matched row, then
        # the measures (RUNNING by default, FINAL on request) —
        # SQL-standard output shape.
        out_fields.extend((c, type_of[c]) for c in src_cols)
    elif not synthetic_part:
        for c in part_cols:
            if c not in type_of:
                raise MatchRecognizeError(f"unknown PARTITION BY column {c!r}")
            out_fields.append((c, type_of[c]))
    for kind, var, col, alias, _sem in measures:
        if col is not None and col not in type_of:
            raise MatchRecognizeError(f"unknown column in MEASURES: {col!r}")
        if all_rows and alias in type_of:
            raise MatchRecognizeError(
                f"MEASURES alias {alias!r} collides with an input column "
                "in ALL ROWS PER MATCH mode"
            )
        out_fields.append((alias, _measure_sql_type(kind, type_of.get(col))))
    out_schema = ", ".join(f"{name} {typ}" for name, typ in out_fields)
    out_cols = [name for name, _ in out_fields]

    time_col = order_cols[0]
    if within_us is not None and type_of.get(time_col) not in ("bigint", "int"):
        raise MatchRecognizeError(
            "WITHIN requires the first ORDER BY column to be epoch micros "
            f"(BIGINT); got {time_col!r}: {type_of.get(time_col)}"
        )
    if within_us is not None and order_specs[0][1]:
        raise MatchRecognizeError(
            "WITHIN requires an ASCENDING first ORDER BY column (the match "
            "horizon scans forward in event time)"
        )

    meas = list(measures)
    parts = list(part_cols)
    meas_cols = sorted({c for _, _, c, _, _ in meas if c is not None})
    var_list = sorted(variables)
    plan = MatchPlan(tree, cross_defs, cep_enum, cep_gaps, permute_vars)
    subset_map = dict(subsets)
    cross_cols = sorted(_cross_columns(cross_defs.values()))

    def run_partition(batches):
        """One call per PARTITION, not per key: the hash shuffle already
        co-located each key, sortWithinPartitions already ordered rows, so
        the matcher walks numpy arrays and finds key boundaries itself —
        Spark's per-group applyInPandas overhead (an Arrow round-trip per
        key) measured ~3ms/key, which dominated at 1500 keys/100k rows."""
        import numpy as np

        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        n = len(pdf)
        if n == 0:
            return
        sat = {
            # astype("boolean") first: nav-null predicates arrive as object
            # dtype, and fillna on object warns about silent downcasting.
            v: pdf[f"__mr_{v}"]
            .astype("boolean")
            .fillna(False)
            .to_numpy(dtype=bool)
            for v in var_list
        }
        elem_ok = plan.elem_ok(sat)
        pred_arr = {c: pdf[c].to_numpy() for c in cross_cols}
        match = plan.matcher(sat, lambda col, j: pred_arr[col][j])
        # WITHIN horizon (reference CEP Pattern.within / MATCH_RECOGNIZE
        # WITHIN): rows at or later than match-start + interval are
        # OUTSIDE the match scope — the right window side is EXCLUSIVE
        # (r12, NFATest.java:158 testWindowBorders; NFA.isStateTimedOut
        # prunes at ``timestamp - start >= windowTime``). searchsorted
        # 'left' keeps rows with ts < start + within only.
        time_arr = pdf[time_col].to_numpy() if within_us is not None else None

        def _limit(i: int, seg_end: int) -> int:
            if time_arr is None:
                return seg_end
            return i + int(
                np.searchsorted(
                    time_arr[i:seg_end], time_arr[i] + within_us, "left"
                )
            )
        arr = {c: pdf[c].to_numpy() for c in meas_cols}
        part_arrs = [pdf[c].to_numpy() for c in parts]
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for a in part_arrs:
            change[1:] |= a[1:] != a[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)

        # Candidate-start pruning: walk the pattern prefix to the first
        # SELECTIVE element reachable at a FIXED offset — trivial
        # (always-true) elements with an exact count {lo==hi} contribute a
        # known offset; the first element with lo>=1 whose predicate
        # actually rejects rows anchors the scan. A match starting at i
        # then requires that element true at i+offset, so candidates are
        # its true-positions shifted back by offset — numpy jumps instead
        # of a Python row-walk. Covers both the rare-trigger shape
        # (anchor = element 0, offset 0) and the undefined-STRT shape
        # (PATTERN (STRT DOWN+ ...): anchor = DOWN at offset 1, the
        # canonical V query). Falls back to the linear scan when a
        # variable-length element precedes every selective one.
        cand_idx = None
        if plan.anchor is not None:
            # VM path: a match must START with a row satisfying one of the
            # anchor alternatives (own-row precomputed booleans) — numpy
            # jump to candidates instead of a Python row-walk. Cross-
            # variable anchor predicates would see empty binds at the
            # match start, same as the matcher itself, so sat[] is exact
            # for starts only when the anchor variable is own-row; skip
            # pruning otherwise.
            if all(v not in cross_defs for v in plan.anchor):
                ok = sat[plan.anchor[0]]
                for v in plan.anchor[1:]:
                    ok = ok | sat[v]
                cand_idx = np.flatnonzero(ok)
        _off = 0
        for _pi, (_alts, (_lo, _hi), _g) in enumerate(plan.pat or []):
            _ok = elem_ok[_pi]
            if _lo >= 1 and not _ok.all():
                cand_idx = np.flatnonzero(_ok) - _off
                cand_idx = cand_idx[cand_idx >= 0]
                break
            if _lo == _hi and _ok.all():
                _off += _lo
                continue
            break

        def _resume(match_start: int, assign: dict, end: int) -> int:
            """Next search position per AFTER MATCH SKIP (reference
            SkipPastLastRow/SkipToNextRow/SkipToFirst/SkipToLast)."""
            if skip == "past_last":
                return end
            if skip == "to_next":
                return match_start + 1
            return _skip_target(skip, match_start, assign)

        src_arr = {c: pdf[c].to_numpy() for c in src_cols} if all_rows else None

        rows = []
        for s, e in zip(starts, ends):
            # the synthetic global key (r13, optional PARTITION BY)
            # segments the scan but never reaches the output row
            part_vals = (
                [] if synthetic_part else [a[s] for a in part_arrs]
            )
            match_no = 0

            def _do_emit(assign):
                """One match -> one output row (ONE ROW mode: measures with
                the last matched row's CLASSIFIER) or len(match) rows (ALL
                ROWS mode: input columns + FINAL measures, per-row
                classifier). MATCH_NUMBER counts per partition key."""
                nonlocal match_no
                match_no += 1
                members = sorted(
                    (idx, v) for v, idxs in assign.items() for idx in idxs
                )
                # SUBSET union variables exist only for MEASURES — they
                # augment a COPY so `members` (row enumeration, ALL ROWS
                # mode) never double-counts rows.
                m_assign = assign
                if subset_map:
                    m_assign = dict(assign)
                    for sname, mem in subset_map.items():
                        idxs = sorted(
                            i for v in mem for i in assign.get(v, [])
                        )
                        if idxs:
                            m_assign[sname] = idxs
                if not all_rows:
                    vals = list(part_vals)
                    _emit_measures(
                        meas, m_assign, arr, vals,
                        classifier=members[-1][1], match_no=match_no,
                    )
                    rows.append(vals)
                    return
                for idx, v in members:
                    vals = [src_arr[c][idx] for c in src_cols]
                    _emit_measures(
                        meas, m_assign, arr, vals,
                        classifier=v, match_no=match_no, upto=idx,
                    )
                    rows.append(vals)

            if cep_enum:
                # multi-match emission: every start row contributes ALL
                # its matches (SKIP TO NEXT ROW was validated at compile);
                # dedup across starts within the partition key — a match
                # reached through leading ignore rows from an earlier
                # start is the same match (identity = positive binds).
                seen_seg: set[tuple] = set()
                if cand_idx is not None:
                    p = int(np.searchsorted(cand_idx, s, "left"))
                    pe = int(np.searchsorted(cand_idx, e, "left"))
                    cands = (int(x) for x in cand_idx[p:pe])
                else:
                    cands = range(s, e)
                for i in cands:
                    for assign, _end in match(i, _limit(i, e))[0]:
                        key = tuple(sorted(
                            (v, tuple(ix)) for v, ix in assign.items()
                        ))
                        if key not in seen_seg:
                            seen_seg.add(key)
                            _do_emit(assign)
                continue
            if cand_idx is not None:
                p = int(np.searchsorted(cand_idx, s, "left"))
                while p < len(cand_idx) and cand_idx[p] < e:
                    i = int(cand_idx[p])
                    hit = match(i, _limit(i, e))[0]
                    if not hit:
                        p += 1
                        continue
                    assign, end = hit[0]
                    _do_emit(assign)
                    p = int(
                        np.searchsorted(cand_idx, _resume(i, assign, end), "left")
                    )
                continue
            i = s
            while i < e:
                hit = match(i, _limit(i, e))[0]
                if not hit:
                    i += 1
                    continue
                assign, end = hit[0]
                _do_emit(assign)
                i = _resume(i, assign, end)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    # The exchange + in-partition sort happened up top (step 1): each
    # key's rows are contiguous AND event-time ordered, so no per-key sort
    # runs in Python. Projections (nav + boolean columns) preserve both.
    out_df = work.mapInPandas(run_partition, out_schema)
    if post_fns:
        # r13 — scalar-UDF measures (streaming MatchRecognizeITCase
        # .scala:858): apply each session-registered scalar function to
        # its base measure column post-emission; stays one Catalyst
        # projection over the match output, zero extra shuffles.
        out_df = out_df.select(
            *[
                F.expr(f"{post_fns[name]}(`{name}`)").alias(name)
                if name in post_fns else F.col(name)
                for name in out_cols
            ]
        )
    return out_df


_MR_SITE_RE = re.compile(r"(\w+)\s+MATCH_RECOGNIZE\s*\(", re.I)

_view_counter = itertools.count()


def rewrite_match_recognize(spark: SparkSession, sql: str) -> str:
    """Compile every ``<table> MATCH_RECOGNIZE (...)`` subtree outside
    literals to a DataFrame, register it as a temp view, and substitute the
    view's name, so the statement around it (outer SELECT, joins against
    the matches, INSERT, CREATE VIEW) runs unchanged."""
    pos = 0
    while True:
        m = _MR_SITE_RE.search(sql, pos)
        if m is None:
            return sql
        if in_literal(literal_spans(sql), m.start(1)):
            pos = m.end()
            continue
        try:
            close = closing_paren(sql, m.end() - 1)
        except ValueError:
            raise MatchRecognizeError(
                "unbalanced parentheses in MATCH_RECOGNIZE"
            ) from None
        body = sql[m.end(): close]
        view = f"__mr_matches_{next(_view_counter)}"
        compile_match_recognize(spark, spark.table(m.group(1)), body).createOrReplaceTempView(view)
        sql = sql[: m.start()] + view + sql[close + 1:]
        pos = m.start() + len(view)


def sql_with_match_recognize(spark: SparkSession, sql: str) -> DataFrame:
    """Execute SQL, compiling any ``<table> MATCH_RECOGNIZE (...)`` subtree
    (:func:`rewrite_match_recognize`)."""
    return spark.sql(rewrite_match_recognize(spark, sql))
