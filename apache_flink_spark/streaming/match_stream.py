"""Streaming MATCH_RECOGNIZE — a keyed-state NFA driver for the compiled
linear-pattern subset (VERDICT r5 missing-item #3).

Reference parity: the reference runs MATCH_RECOGNIZE on unbounded streams
through CepOperator (flink-libraries/flink-cep/.../operator/CepOperator
.java:82 — keyed NFA state + shared buffer + event-time timers +
watermark-gated advancement). Spark has no streaming MATCH_RECOGNIZE, so
this module drives the SAME compiled pattern subset as the batch compiler
(apache_flink_spark.match_recognize) from ``applyInPandasWithState``:

  1. DEFINE predicates are own-row and evaluate JVM-SIDE as stateless
     boolean projections BEFORE the stateful operator (the batch
     compiler's step 3) — slicing-invariant by construction.
  2. Rows buffer in key-grouped GroupState ordered by event time; the
     NFA scans only the CERTIFIED prefix (ts <= watermark: no earlier
     row can still arrive) — CepOperator's watermark advancement rule.
  3. A match is EMITTED only when its outcome can never change:
     its end is followed by a certified row (the greedy-extension
     decision row was seen), or the match already has the pattern's
     maximum length, or the WITHIN horizon of its start has passed.
  4. A buffered row is DROPPED as a potential match start only when its
     failure is final by the same rules — so state per key is bounded by
     (max pattern length + watermark lag), the CepOperator state bound,
     and an unbounded quantifier REQUIRES a WITHIN clause (the
     reference's CEP state-pruning prerequisite).

Emission is therefore invariant under arbitrary micro-batch slicing
(pinned by tests/test_match_stream.py property test): the certified
prefix grows monotonically with the watermark regardless of how rows are
sliced into batches, and decisions depend only on that prefix.

Streaming subset (errors loudly otherwise): ONE ROW PER MATCH, AFTER
MATCH SKIP PAST LAST ROW, SKIP TO NEXT ROW (r8 — the reference CEP's
no-skip default; the frontier advances one row per decided start), or
SKIP TO FIRST/LAST <var> for single-match patterns (r11 — the resume
target is a row of the just-emitted fully-certified match, so finality
is unaffected),
ascending ORDER BY (epoch-micros BIGINT first),
own-row DEFINEs, cross-variable LAST/FIRST binds (r7 — the batch
bind-tracking DFS runs inside the certified prefix; binds only reference
rows already assigned to the in-flight match, so certification covers
them by construction), PREV physical navigation (r7 — predecessors
of a certified row are fixed, so each key retains a bounded
navigation-context tail of consumed rows, flagged by a vm-mask high
bit), and NEXT physical navigation (r8 — a row's successor is fixed once
the successor itself certifies, because anything arriving between them
would be behind the watermark and late-dropped; decisions therefore
delay by max-NEXT-offset certified rows: n_eval = n_cert - max_next,
and horizon-final verdicts wait for max_next certified rows past the
horizon cut).

r9: relaxed (SKIP_TILL_NEXT) loops stream natively — the CEP compiler's
gap-interleaved shape ``X (G*? X)*`` is recognized as a flat loop with
an ignore-row predicate (the reference NFA's IGNORE self-transition,
NFA.java:76), with the reference's default MULTI-MATCH prefix emission
(every loop prefix is its own match, all of a start's prefixes decided
together under a frontier-based finality rule: a decision is final when
no scan stopped at the certified frontier while still extendable).
MATCH_NUMBER also streams: the per-key counter rides the existing state
arrays as one sentinel row per user (vm bit + tie-break field), so the
checkpoint layout is unchanged and pre-r9 fixtures restore with
counters at 0.

r10: single-level GROUP loops stream (GroupPattern.java:30 —
Pattern.begin(inner).oneOrMore()): the compiled
``( A .. B ) (G*? ( A .. B )){..}`` shape is recognized as ONE loop
element whose body lists the group's steps (optionally with inner
relaxed pre-gaps); repetitions ride the same frontier-based finality
and keyed state, no state-schema change. All emission modes stream
(default multi-match, greedy()/reluctant() pins, exact counts).

r11: followedByAny INSIDE a streaming group body (the reference's
SKIP_TILL_ANY inner edge on group states — NFACompiler
getIgnoreCondition trueFunction inside GroupPattern bodies): the body
scanner branches per gap extent and all of a start's matches decide
together under the same frontier-based finality — no new state, no
schema change. NESTED group loops stream too (r11): the CEP compiler
emits the same anchor+repetition shape at every nesting depth
(NFACompiler.createLoopingGroupPatternState recurses), so the body
model generalizes to recursive steps — ("one", alts, pre) |
("loop", steps, lo, hi, ign, greedy, pre) — matched by a recursive
enumerator inside the same certified-prefix scan; nothing new is
buffered and the checkpoint layout is unchanged.

r12: BOUNDED allowCombinations streams (SKIP_TILL_ANY between
repetitions of a flat loop, horizon-gated): the subset enumeration
runs at SCAN time over the horizon window the keyed state already
buffers — zero new state, checkpoint layout unchanged (the r11
enum-inner-gap argument). Without a within() horizon it rejects with
the precise state bound that breaks (every buffered row stays a live
skip target — 2^n undecided alternatives, no cleanup). Still out: ALL
ROWS PER MATCH, allowCombinations between GROUP-loop repetitions (the
branch-per-extent scan composes with the body scanner's own branching
exponentially), and greedy()/reluctant()-pinned loops inside
enumerating bodies (the take-count pin is ambiguous across branching
extents) — each errors loudly with a batch-path pointer.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from apache_flink_spark.match_recognize import (
    _3VL_GLOBALS,
    _BODY_RE,
    _compile_3vl,
    _emit_measures,
    _measure_sql_type,
    _NULL,
    _parse_defines,
    _parse_measures,
    _parse_pattern_tree,
    _tree_flat,
    _UNKNOWN,
    _WITHIN_UNIT_US,
    MatchRecognizeError,
)
from apache_flink_spark.streaming.stateful import (
    _check_group_budget,
    key_groups,
    max_group_rows,
)
import re

#: reusable eval-globals for the per-row 3VL predicate evaluation (the
#: per-call __row/__bind closures are swapped in before each eval)
_EVAL_G = dict(_3VL_GLOBALS)

#: vm-mask high bit flagging a NAVIGATION-CONTEXT row: retained only so
#: PREV() of later rows can read it; never a match start. Riding the mask
#: keeps the checkpoint state layout unchanged (old checkpoints restore
#: with the bit unset — correct: they carried no context rows).
_CTX_BIT = 1 << 62

#: vm-mask bit flagging a MATCH_NUMBER counter sentinel "row" (r9): one
#: per user key, event-time -2^62 (sorts first in the key's segment, far
#: below any epoch-micros value), tie-break field = the count. Riding the
#: existing arrays keeps the checkpoint state layout unchanged; old
#: checkpoints carry no sentinels and restore with counters at 0 —
#: correct, since only MATCH_NUMBER queries (new in r9) write them.
_MN_BIT = 1 << 61
_MN_TS = -(1 << 62)


def _body_steps(nd):
    """Parse a group-loop BODY node — a 'seq' of single-occurrence vars
    with optional lazy pre-gap vars between them (the CEP compiler's
    inner relaxed-contiguity shape ``A G1*? B``) — into steps
    ``[(alts, pre_gap_var | None)]``. The first step never has a
    pre-gap (the body anchors where the repetition starts). None for
    unsupported shapes (nested quantifiers inside the body)."""
    items = list(nd[1]) if nd[0] == "seq" else [nd]
    steps: list[tuple[tuple, str | None]] = []
    pre = None
    for i, it in enumerate(items):
        if it[0] != "var":
            return None
        if (
            it[2:] == (0, None, False)
            and len(it[1]) == 1
            and i + 1 < len(items)
        ):
            if pre is not None:
                return None
            pre = it[1][0]
            continue
        if it[2:] != (1, 1, True):
            return None
        if pre is not None and not steps:
            return None  # pre-gap before the anchoring first step
        steps.append((tuple(it[1]), pre))
        pre = None
    if pre is not None or len(steps) < 2:
        return None
    return steps


def _parse_rec_steps(items):
    """r11 — recursive body parser for NESTED group loops. Returns a
    list of tagged steps or None:

      ("one", alts, pre)                         — single take, optional
                                                   relaxed pre-gap
      ("loop", steps, lo, hi, ign, greedy, pre)  — nested loop whose
                                                   repetition matches
                                                   ``steps``; lo/hi
                                                   INCLUDE the anchor

    recognizing the CEP compiler's anchor+repetition shape
    ``X (G*? X){a,b}`` at every level (NFACompiler compiles a
    GroupPattern loop the same way at any nesting depth —
    createLoopingGroupPatternState recurses)."""
    steps = []
    pre = None
    i = 0
    while i < len(items):
        it = items[i]
        nxt = items[i + 1] if i + 1 < len(items) else None
        if (
            it[0] == "var" and it[2:] == (0, None, False)
            and len(it[1]) == 1 and i + 1 < len(items)
        ):
            if pre is not None:
                return None
            pre = it[1][0]
            i += 1
            continue
        loop = _try_parse_rec_loop(it, nxt)
        if loop is not None:
            lsteps, lo, hi, ign, greedy = loop
            steps.append(("loop", lsteps, lo, hi, ign, greedy, pre))
            pre = None
            i += 2
            continue
        if it[0] == "var" and it[2:] == (1, 1, True):
            steps.append(("one", tuple(it[1]), pre))
            pre = None
            i += 1
            continue
        return None
    if pre is not None or not steps:
        return None
    if steps[0][-1] is not None:
        return None  # the first step anchors the body — never a pre-gap
    return steps


def _try_parse_rec_loop(it, nxt):
    """Recognize ``anchor (G*? anchor){a,b}`` where the anchor may be a
    var OR a parenthesized body whose items parse recursively. Returns
    ``(steps, lo, hi, ign, greedy)`` with lo/hi including the anchor,
    or None."""
    if nxt is None:
        return None
    if nxt[0] == "group" and nxt[1][0] == "seq":
        rep_items, lo, hi, greedy = nxt[1][1], nxt[2], nxt[3], nxt[4]
    elif nxt[0] == "seq":
        rep_items, lo, hi, greedy = nxt[1], 1, 1, True
    else:
        return None
    if len(rep_items) != 2:
        return None
    g_nd, body_nd = rep_items
    if not (
        g_nd[0] == "var" and len(g_nd[1]) == 1
        and g_nd[2:] == (0, None, False)
    ):
        return None
    anchor = it
    if anchor[0] == "group" and anchor[2:] == (1, 1, True):
        anchor = anchor[1]
    bn = body_nd
    if bn[0] == "group" and bn[2:] == (1, 1, True):
        bn = bn[1]
    if bn != anchor:
        return None
    if anchor[0] == "var":
        if anchor[2:] != (1, 1, True) or len(anchor[1]) != 1:
            return None
        lsteps = [("one", tuple(anchor[1]), None)]
    elif anchor[0] == "seq":
        lsteps = _parse_rec_steps(anchor[1])
        if lsteps is None:
            return None
    else:
        return None
    return (
        lsteps,
        1 + lo,
        None if hi is None else 1 + hi,
        g_nd[1][0],
        greedy,
    )


def _rec_walk(steps):
    """Yield every step of a recursive body, depth-first."""
    for st in steps:
        yield st
        if st[0] == "loop":
            yield from _rec_walk(st[1])


def _rec_take_vars(steps):
    out = []
    for st in _rec_walk(steps):
        if st[0] == "one":
            out.extend(st[1])
    return tuple(dict.fromkeys(out))


def _rec_head_alts(steps):
    """The variables that can take a body's FIRST event — recursing
    into a leading nested loop (its first repetition's head)."""
    st = steps[0]
    return st[1] if st[0] == "one" else _rec_head_alts(st[1])


def _tree_flat_ignore(node):
    """Extended flat view for the streaming matcher:
    ``[(alts, (lo, hi), greedy, ignore_var | None, body | None)]``.

    Recognizes the CEP compiler's relaxed-loop shape ``X (G*? X)*`` /
    ``X (G*? X){a,b}`` as ONE loop element with an ignore variable — the
    reference NFA's IGNORE self-transition (flink-libraries/flink-cep
    NFA.java:76; NFACompiler getInnerIgnoreCondition SKIP_TILL_NEXT) —
    and, r10, the single-level GROUP loop shape
    ``( A .. B ) (G*? ( A .. B )){a,b}`` (GroupPattern.java:30 —
    Pattern.begin(inner).oneOrMore()/times()) as one loop element whose
    ``body`` lists the group's steps (each step optionally preceded by
    an inner relaxed pre-gap). Plain variables pass through with
    ``(None, None)``. Returns None for any other nested structure."""
    items = list(node[1]) if node[0] == "seq" else [node]
    out = []
    i = 0
    while i < len(items):
        it = items[i]
        nxt = items[i + 1] if i + 1 < len(items) else None
        # The repetition after a loop anchor arrives as a quantified
        # group ``(G*? atom){a,b}`` — or, for an exact count's
        # ``(G*? atom){1}``, flattened by the parser to a bare seq
        # (exactly one mandatory repetition).
        rep_wrap = None
        if nxt is not None:
            if nxt[0] == "group" and nxt[1][0] == "seq":
                rep_wrap = (nxt[1], nxt[2], nxt[3], nxt[4])
            elif nxt[0] == "seq":
                rep_wrap = (nxt, 1, 1, True)
        # single-variable relaxed loop X (G*? X){...}
        if (
            it[0] == "var"
            and it[2:] == (1, 1, True)
            and len(it[1]) == 1
            and rep_wrap is not None
            and len(rep_wrap[0][1]) == 2
        ):
            g_nd, x_nd = rep_wrap[0][1]
            if (
                g_nd[0] == "var" and x_nd[0] == "var"
                and len(g_nd[1]) == 1 and g_nd[2:] == (0, None, False)
                and x_nd[1] == it[1] and x_nd[2:] == (1, 1, True)
            ):
                lo, hi, greedy = rep_wrap[1], rep_wrap[2], rep_wrap[3]
                out.append((
                    it[1],
                    (1 + lo, None if hi is None else 1 + hi),
                    greedy,
                    g_nd[1][0],
                    None,
                ))
                i += 2
                continue
        # group loop ( body ) (G*? ( body )){...} — r10. The parser
        # flattens an unquantified parenthesized group into a bare
        # 'seq' node, so the anchor (and the repetition's inner copy)
        # arrives either as ('seq', items) or as a {1,1} group.
        body_nd = None
        if it[0] == "seq":
            body_nd = it
        elif it[0] == "group" and it[2:] == (1, 1, True):
            body_nd = it[1]
        if (
            body_nd is not None
            and rep_wrap is not None
            and len(rep_wrap[0][1]) == 2
        ):
            g_nd, rep_nd = rep_wrap[0][1]
            rep_body = None
            if rep_nd[0] == "seq":
                rep_body = rep_nd
            elif rep_nd[0] == "group" and rep_nd[2:] == (1, 1, True):
                rep_body = rep_nd[1]
            if (
                g_nd[0] == "var" and len(g_nd[1]) == 1
                and g_nd[2:] == (0, None, False)
                and rep_body == body_nd
            ):
                steps = _body_steps(body_nd)
                if steps is not None:
                    lo, hi, greedy = rep_wrap[1], rep_wrap[2], rep_wrap[3]
                    alts = tuple(
                        dict.fromkeys(v for s, _p in steps for v in s)
                    )
                    out.append((
                        alts,
                        (1 + lo, None if hi is None else 1 + hi),
                        greedy,
                        g_nd[1][0],
                        steps,
                    ))
                    i += 2
                    continue
                # r11 — NESTED group loops: the body itself contains
                # anchor+repetition loops; parse recursively and tag
                # the body ("rec", steps) for the recursive matcher.
                rsteps = _parse_rec_steps(list(body_nd[1]))
                if rsteps is not None:
                    lo, hi, greedy = rep_wrap[1], rep_wrap[2], rep_wrap[3]
                    out.append((
                        _rec_take_vars(rsteps),
                        (1 + lo, None if hi is None else 1 + hi),
                        greedy,
                        g_nd[1][0],
                        ("rec", rsteps),
                    ))
                    i += 2
                    continue
            return None
        if it[0] != "var":
            return None
        out.append(((*it[1],), (it[2], it[3]), it[4], None, None))
        i += 1
    return out


def streaming_match_recognize(
    stream: DataFrame, body: str,
    cep_enum_vars: frozenset | None = None,
    cep_gap_vars: frozenset | None = None,
    cep_greedy_vars: frozenset | None = None,
) -> DataFrame:
    """Run a MATCH_RECOGNIZE body on an unbounded stream.

    ``stream`` must be watermarked (withWatermark on its event-time
    column) and contain the ORDER BY columns; the first ORDER BY column
    must be epoch-micros BIGINT (the event-time image the watermark
    certifies). Returns the streaming matches DataFrame (ONE ROW PER
    MATCH: partition columns + measures).

    ``cep_enum_vars`` (r9, set by the CEP Pattern compiler): loop
    elements binding these variables use the reference's default
    MULTI-MATCH emission — every loop prefix / optional branch is its
    own match (NFAITCase.java:1871 testSkipTillNextOneOrMore), all
    prefixes of a start decided together under the same certified-
    frontier rule. ``cep_gap_vars`` names compiler ignore-edge
    variables, excluded from match identity."""
    cep_enum = frozenset(cep_enum_vars or ())
    cep_gaps = frozenset(cep_gap_vars or ())
    # r12 — CEP greedy()-PINNED loop variables (set by cep_select_stream
    # only): these loops carry the reference's PROCEED guard — they may
    # be left only at a row that does not extend them (NFACompiler
    # updateWithGreedyCondition; CEPITCase:1049 — no backtracking to a
    # shorter take). Raw SQL MATCH_RECOGNIZE greedy quantifiers keep
    # SQL backtracking semantics and never appear here.
    cep_greedy = frozenset(cep_greedy_vars or ())
    from apache_flink_spark.match_recognize import _normalize_quoted_vars

    body = _normalize_quoted_vars(body)
    m = _BODY_RE.search(body.strip())
    if not m:
        raise MatchRecognizeError("could not parse MATCH_RECOGNIZE body")
    part_cols = [c.strip() for c in m.group("part").split(",")]
    order_specs = []
    for oc in m.group("order").split(","):
        om = re.match(r"^(\w+)(?:\s+(ASC|DESC))?$", oc.strip(), re.I)
        if not om:
            raise MatchRecognizeError(f"unsupported ORDER BY item: {oc!r}")
        if om.group(2) and om.group(2).upper() == "DESC":
            raise MatchRecognizeError(
                "streaming MATCH_RECOGNIZE requires ascending ORDER BY "
                "(event time only moves forward)"
            )
        order_specs.append(om.group(1))
    # r9: relaxed (SKIP_TILL_NEXT) loops stream natively — the compiled
    # gap-interleaved shape X (G*? X)* is recognized as a flat loop with
    # an ignore-row predicate (the reference NFA's IGNORE self-transition,
    # NFA.java:76). Other nested structure (GroupPattern) stays rejected.
    tree = _parse_pattern_tree(m.group("pat"))
    flat = _tree_flat(tree)
    if flat is not None:
        pattern = [(alts, q, g, None, None) for alts, q, g in flat]
    else:
        pattern = _tree_flat_ignore(tree)
        if pattern is None:
            raise MatchRecognizeError(
                "streaming MATCH_RECOGNIZE supports flat patterns, "
                "single-variable relaxed loops (the compiled X (G*? X)* "
                "shape), group loops (the compiled "
                "( A .. B ) (G*? ( A .. B )){..} shape) and their "
                "nested anchor+repetition compositions only — other "
                "structure needs the batch path (cep_select / "
                "sql_with_match_recognize)"
            )
    def _is_rec(body) -> bool:
        return isinstance(body, tuple) and body and body[0] == "rec"

    def _body_pres(body):
        """Every pre-gap variable of a body (flat or recursive)."""
        if _is_rec(body):
            return [
                st[-1] for st in _rec_walk(body[1]) if st[-1] is not None
            ]
        return [pre for _s, pre in body if pre is not None]

    variables = set()
    for alts, _q, _g, ign, body in pattern:
        variables.update(alts)
        if ign is not None:
            variables.add(ign)
        if body is not None:
            variables.update(_body_pres(body))
            if _is_rec(body):
                variables.update(
                    st[4] for st in _rec_walk(body[1]) if st[0] == "loop"
                )
    # r12 — bounded streaming allowCombinations (SKIP_TILL_ANY between
    # repetitions of a flat loop): supported when a WITHIN horizon
    # bounds the pattern (checked after the horizon is parsed below).
    # The subset enumeration happens at SCAN time over rows the keyed
    # state already buffers for the horizon, so it adds ZERO state and
    # no schema change — exactly the r11 enum-inner-gap argument.
    comb_loops = [
        pi for pi, (_alts, _q, _g, ign, body) in enumerate(pattern)
        if ign is not None and ign in cep_enum and body is None
    ]
    for _alts, _q, _g, ign, body in pattern:
        if ign is not None and ign in cep_enum and body is not None:
            raise MatchRecognizeError(
                "streaming allowCombinations (SKIP_TILL_ANY) between "
                "GROUP-loop repetitions is not supported — the "
                "branch-per-gap-extent scan composes with the body "
                "scanner's own branching exponentially; use the batch "
                "cep_select"
            )
        if body is not None and _is_rec(body):
            # r11 nested group loops stream for DEFAULT emission only:
            # a nested loop whose take variables are all pinned
            # (greedy()/reluctant() excluded them from the enum set)
            # would need single-match semantics inside an enumerating
            # scan — ambiguous; and a reluctant (lazy) repetition
            # wrapper is the same pin at the regex level.
            for st in _rec_walk(body[1]):
                if st[0] != "loop":
                    continue
                if not st[5] or not (
                    set(_rec_take_vars(st[1])) & cep_enum
                ):
                    raise MatchRecognizeError(
                        "a greedy()/reluctant()-pinned loop NESTED "
                        "inside a streaming group body is not "
                        "supported — pins are ambiguous inside the "
                        "enumerating repetition scan; use the default "
                        "emission or the batch cep_select"
                    )
                if st[4] in cep_enum:
                    raise MatchRecognizeError(
                        "streaming allowCombinations between NESTED "
                        "group repetitions is not supported — the "
                        "per-start subset enumeration is unbounded in "
                        "stream state; use the batch cep_select"
                    )
    elem_enum = [
        bool(set(alts) & cep_enum) for alts, _q, _g, _ign, _b in pattern
    ]
    # r11 (VERDICT r10 missing #1): followedByAny INSIDE a streaming
    # group body — the reference's SKIP_TILL_ANY inner edge on group
    # states (NFACompiler getIgnoreCondition SKIP_TILL_ANY ->
    # trueFunction inside GroupPattern bodies). The body scanner
    # branches per gap extent; every branch's matches decide together
    # under the same frontier-based finality, so no new state and no
    # schema change. Pinned greedy()/reluctant() variable-count loops
    # with enum inner gaps stay rejected: maximal/minimal take-count
    # pins are ambiguous across branching gap extents.
    elem_body_enum = [
        body is not None and (
            _is_rec(body)  # recursive bodies always use the enum scan
            or any(pre in cep_enum for pre in _body_pres(body))
        )
        for _alts, _q, _g, _ign, body in pattern
    ]
    for pi_, (_alts, (lo_, hi_), _g, _ign, _body) in enumerate(pattern):
        if (
            elem_body_enum[pi_]
            and not elem_enum[pi_]
            and lo_ != hi_
        ):
            raise MatchRecognizeError(
                "a greedy()/reluctant()-pinned streaming group loop "
                "with followedByAny INSIDE the body is not supported — "
                "the take-count pin is ambiguous across branching gap "
                "extents; use the default emission, an exact times(n) "
                "count, or the batch cep_select"
            )
    has_ignore = any(ign is not None for _a, _q, _g, ign, _b in pattern)
    # enum-inner-gap bodies multi-match per start too (one match per
    # gap extent), so they ride the same emission requirements
    has_enum = any(elem_enum) or any(elem_body_enum)
    measures, post_fns = _parse_measures(m.group("meas"))
    if post_fns:
        # the streaming NFA emits through the keyed-state lane; the r13
        # scalar-UDF measure post-projection is batch-only so far
        raise MatchRecognizeError(
            "scalar-function MEASURES are not supported on the streaming "
            f"MATCH_RECOGNIZE path yet ({sorted(post_fns.values())}); "
            "apply the function in the outer SELECT over the emitted "
            "columns"
        )
    # MATCH_ROWTIME() (r12): universal LAST of the event-time ORDER BY
    # column — same rewrite as the batch path
    measures = [
        ("LAST", None, order_specs[0], alias, sem)
        if kind == "MATCH_ROWTIME" else (kind, var, col, alias, sem)
        for kind, var, col, alias, sem in measures
    ]
    src_col_names = {f.name for f in stream.schema.fields}
    defines, nav_cols, cross_defs = _parse_defines(
        m.group("defs"), variables, src_col_names
    )
    # PREV physical navigation (r7): a certified row's predecessors are
    # physically fixed (late rows are rejected), so PREV is final exactly
    # when the row is certified. Each key retains a bounded NAVIGATION
    # CONTEXT tail of up to max(offset) already-consumed rows, flagged by
    # a high bit in the existing vm mask (state layout unchanged — r6
    # restore checkpoints stay loadable).
    # NEXT physical navigation (r8, VERDICT r7 missing #2): a row's
    # successor is FIXED once the successor itself certifies — any row
    # that could still arrive between them would be behind the watermark
    # and is late-dropped. So every decision bound moves one (or
    # max-offset) certified row(s) earlier: rows are finally evaluable
    # only up to n_eval = n_cert - max_next, and a horizon-final verdict
    # additionally waits for max_next certified rows PAST the horizon
    # cut (the reference CepOperator likewise needs the next event to
    # take or refute a strict-next transition, CepOperator.java:82). No
    # state-schema change; checkpoints restore unchanged.
    nav_prev: dict[str, tuple[str, int]] = {}
    nav_next: dict[str, tuple[str, int]] = {}
    max_prev = 0
    max_next = 0
    for alias, (fn, col, n) in nav_cols.items():
        if fn == "NEXT":
            nav_next[alias] = (col, n)
            max_next = max(max_next, n)
        else:
            nav_prev[alias] = (col, n)
            max_prev = max(max_prev, n)
    # Cross-variable DEFINE binds (r7, VERDICT r6 next-item #4): the batch
    # bind-tracking DFS runs INSIDE the certified-prefix NFA — a bind only
    # ever references rows already assigned to the in-flight match, and a
    # match is emitted only once its whole span is certified, so the
    # cross-variable evaluation is slicing-invariant by the same argument
    # as the own-row masks (extended property test in
    # tests/test_match_stream.py). The referenced columns ride the same
    # per-row state arrays as the measure columns.
    cross_codes = dict(cross_defs)
    # Own-row defines that reference nav aliases cannot evaluate JVM-side
    # (the lag column does not exist pre-state); they move to the Python
    # 3VL evaluator like cross-variable predicates.
    from apache_flink_spark.match_recognize import _sql_pred_to_python

    for var, pred in list(defines.items()):
        if "__mr_prev" in pred or "__mr_next" in pred:
            cross_codes[var] = _sql_pred_to_python(
                pred, set(src_col_names) | set(nav_prev), var
            )
            del defines[var]
    if cross_codes and (has_ignore or has_enum):
        raise MatchRecognizeError(
            "streaming relaxed loops / multi-match emission support "
            "own-row DEFINEs only (no cross-variable binds or PREV/NEXT "
            "navigation on the loop pattern) — use the batch path"
        )
    cross_cols = sorted(
        {c for code in cross_codes.values()
         for c in re.findall(r'__(?:row|bind|bagg)\("(?:\w+", ")?(\w+)"', code)
         + re.findall(r'__ubind\("(\w+)"', code)
         if not c.startswith("__mr_")}
        | {col for col, _n in nav_prev.values()}
        | {col for col, _n in nav_next.values()}
    )
    # r8: SKIP TO NEXT ROW (the reference CEP's no-skip default) — every
    # row is an independent potential match start, so the decision
    # frontier advances one row per decided start instead of jumping past
    # emitted matches. State bounds are unchanged: rows before the
    # frontier are never needed by later starts (a match's body begins at
    # its start row).
    # r11: SKIP TO FIRST/LAST <var> streams for single-match patterns —
    # the resume target is a row of the just-emitted (fully certified)
    # match, so finality is unaffected; only the frontier position
    # changes (the reference CepOperator applies every
    # AfterMatchSkipStrategy on streams).
    skip_next = False
    skip_to: tuple[str, str] | None = None
    if m.group("skip"):
        sk = re.sub(r"\s+", " ", m.group("skip").strip()).upper()
        if sk == "TO NEXT ROW":
            skip_next = True
        elif sk.startswith("TO FIRST ") or sk.startswith("TO LAST "):
            _, which, svar = sk.split(" ")
            if svar not in variables:
                raise MatchRecognizeError(
                    f"AFTER MATCH SKIP TO {which} {svar}: unknown variable"
                )
            first_alts, (first_lo, _fh), _fg, _fi, _fb = pattern[0]
            if which == "FIRST" and first_alts == (svar,) and first_lo >= 1:
                raise MatchRecognizeError(
                    f"AFTER MATCH SKIP TO FIRST {svar} cannot advance "
                    "past the match start (infinite loop)"
                )
            skip_to = (which.lower(), svar)
        elif sk != "PAST LAST ROW":
            raise MatchRecognizeError(
                "streaming MATCH_RECOGNIZE supports AFTER MATCH SKIP "
                "PAST LAST ROW, TO NEXT ROW, TO FIRST <var> and "
                "TO LAST <var>"
            )
    if m.group("mode") and m.group("mode").upper().startswith("ALL"):
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE supports ONE ROW PER MATCH only"
        )
    if has_enum:
        if not skip_next:
            raise MatchRecognizeError(
                "streaming multi-match emission (CEP default loops) "
                "requires AFTER MATCH SKIP TO NEXT ROW — pin greedy()/"
                "reluctant() for other skip strategies"
            )
        if pattern[0][1][0] == 0:
            raise MatchRecognizeError(
                "streaming multi-match emission requires a REQUIRED "
                "first pattern element (the start row anchors match "
                "identity across watermark advances) — use the batch "
                "path for optional-head patterns"
            )
    within_us = None
    if m.group("within_n"):
        unit = m.group("within_u").upper()
        if unit not in _WITHIN_UNIT_US:
            raise MatchRecognizeError(f"unsupported WITHIN unit {unit!r}")
        within_us = int(m.group("within_n")) * _WITHIN_UNIT_US[unit]
    # MATCH_NUMBER (r9 — VERDICT r8 missing #4): a per-key BIGINT counter
    # IS bounded state; it rides the existing state arrays as one
    # sentinel row per user (vm bit _MN_BIT, count in the tie-break
    # field), so the checkpoint layout is unchanged and old fixtures
    # restore with counters at 0. Numbering is deterministic: matches
    # decide in event-time order per key.
    use_mn = any(kind == "MATCH_NUMBER" for kind, *_rest in measures)
    for kind, var, col, alias, _sem in measures:
        if var is not None and var not in variables:
            raise MatchRecognizeError(
                f"MEASURES references unknown variable {var!r}"
            )
    # Pattern length bound: every start/drop decision needs a horizon.
    # A group loop's repetition spans len(body) take rows plus unbounded
    # inner pre-gap rows, so body elements always defer to the horizon.
    l_max = 0
    for _alts, (_lo, hi), _g, _ign, body in pattern:
        if hi is None or body is not None:
            l_max = None
            break
        l_max += hi
    if l_max is not None and within_us is None and has_ignore:
        # bounded take-counts do NOT bound the row span once ignore rows
        # interleave — start/drop finality then needs the horizon
        l_max = None
    if comb_loops and within_us is None:
        # The precise bound that breaks without a horizon: the
        # SKIP_TILL_ANY edge makes EVERY buffered row a live skip
        # target, so a start's undecided alternative set is
        # 2^(rows since start) and no row after the start can ever be
        # released from state (any future row may still pair with any
        # subset). WITH a horizon the alternatives are confined to the
        # horizon window the state already buffers, enumeration happens
        # at scan time, and state is unchanged.
        raise MatchRecognizeError(
            "streaming allowCombinations (SKIP_TILL_ANY between "
            "repetitions) requires a within() horizon — without one, "
            "every buffered row stays a live skip target forever "
            "(2^n undecided alternatives, no state cleanup); bound the "
            "pattern with within() or use the batch cep_select"
        )
    if l_max is None and within_us is None:
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE: an unbounded quantifier (+ or *) "
            "requires a WITHIN clause — without a horizon, match starts "
            "can never be pruned from state (reference CEP requires the "
            "same for state cleanup)"
        )

    type_of = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    time_col = order_specs[0]
    if type_of.get(time_col) != "bigint":
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE requires the first ORDER BY column "
            f"to be epoch-micros BIGINT; got {type_of.get(time_col)!r}"
        )
    tiebreaks = order_specs[1:]
    if len(tiebreaks) > 4:
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE supports at most FOUR tie-break "
            f"columns after the event-time ORDER BY key; got {tiebreaks}"
        )
    for c in part_cols + tiebreaks:
        if type_of.get(c) != "bigint":
            raise MatchRecognizeError(
                "streaming MATCH_RECOGNIZE: partition and tie-break "
                f"columns must be BIGINT (state layout); {c!r} is "
                f"{type_of.get(c)!r}"
            )

    meas_cols = sorted({c for _, _, c, _, _ in measures if c is not None})
    # r9: tie-breaks BEYOND the first ride the per-row carry arrays (the
    # state schema is built per query, so extra sort keys are just more
    # typed columns — the r8 "single tie-break" rejection was layout
    # over-caution); the first stays in the dedicated __tb field.
    extra_tb = tiebreaks[1:]
    carry = [
        c for c in sorted({*meas_cols, *cross_cols, *extra_tb})
        if c not in (time_col, *part_cols)
    ]
    for c in carry:
        if type_of.get(c) not in ("bigint", "double"):
            raise MatchRecognizeError(
                f"streaming MATCH_RECOGNIZE: measure/DEFINE column {c!r} "
                f"must be BIGINT or DOUBLE (state layout); got "
                f"{type_of.get(c)!r}"
            )

    spark = stream.sparkSession
    g = key_groups(spark)
    budget = max_group_rows(spark)

    # JVM-side own-row predicate evaluation (batch compiler step 3) —
    # stateless projections, so they commute with micro-batch slicing.
    var_list = sorted(variables)
    if len(var_list) >= 62:
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE supports at most 61 pattern "
            "variables (bitmask state layout)"
        )
    # Per-variable mask bits, precomputed once: the NFA scan tests
    # membership millions of times per batch, and a dict lookup beats the
    # O(|vars|) list.index + shift it replaces (guide §4.2 — keep the
    # per-row work in the hot enumeration loops minimal).
    var_bit = {v: 1 << i for i, v in enumerate(var_list)}
    # Pack per-var booleans into one BIGINT mask: fixed state layout.
    # r13: the predicates fold straight into the mask expression — the
    # old per-variable withColumn chain paid one full analysis pass per
    # variable for intermediate columns nothing else read.
    mask = F.lit(0).cast("long")
    for bit, var in enumerate(var_list):
        pred = defines.get(var)
        ok = F.expr(pred).cast("boolean") if pred else F.lit(True)
        mask = mask + F.when(
            F.coalesce(ok, F.lit(False)), F.lit(1 << bit)
        ).otherwise(F.lit(0))
    work = stream.withColumn("__vm", mask.cast("long"))

    pat = list(pattern)
    # Loop-invariant per-element masks: the union of an element's
    # alternation bits (elem_ok is "any alt matches" == any union bit
    # set), its (var, bit) pairs in alternation order (label = first
    # matching), and its ignore-variable bit (0 when the element has no
    # ignore edge — callers only consult it when one exists).
    elem_bits = [[(v, var_bit[v]) for v in e[0]] for e in pat]
    elem_mask = [
        functools.reduce(operator.or_, (b for _, b in bits), 0)
        for bits in elem_bits
    ]
    ign_mask = [var_bit[e[3]] if e[3] is not None else 0 for e in pat]
    meas = list(measures)
    n_parts = len(part_cols)
    tb_col = tiebreaks[0] if tiebreaks else None
    extra_tb_ci = [carry.index(c) for c in extra_tb]
    cross_fns = {
        v: _compile_3vl(code, f"<mr-stream-define-{v}>")
        for v, code in cross_codes.items()
    }

    out_fields = []
    for c in part_cols:
        out_fields.append((c, type_of[c]))
    for kind, var, col, alias, _sem in meas:
        out_fields.append((alias, _measure_sql_type(kind, type_of.get(col))))
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    out_cols = [n for n, _ in out_fields]

    # State: parallel arrays per buffered row — partition key, event time,
    # tie-break, var mask, then each carried measure column.
    state_fields = [
        "k array<long>", "ts array<long>", "tb array<long>",
        "vm array<long>",
    ]
    for i, c in enumerate(carry):
        state_fields.append(f"c{i} array<{type_of[c]}>")
    state_schema = ", ".join(state_fields)

    sel = [
        F.pmod(F.xxhash64(*[F.col(c) for c in part_cols]), F.lit(g)).alias(
            "__grp"
        ),
        F.col(part_cols[0]).alias("__k"),
        F.col(time_col).alias("__ts"),
        (F.col(tb_col) if tb_col else F.lit(0)).cast("long").alias("__tb"),
        F.col("__vm"),
        *[F.col(c) for c in carry],
        F.col(m_ts_src := _event_time_col(stream)).alias("__evt"),
    ]
    if n_parts != 1:
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE: exactly one BIGINT PARTITION BY "
            "column is supported in the streaming subset"
        )
    work = work.select(*sel)

    n_carry = len(carry)

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        mn_counts: dict[int, int] = {}
        if state.exists:
            st = state.get
            b_k = list(st[0]); b_ts = list(st[1]); b_tb = list(st[2])
            b_vm = list(st[3])
            b_c = [list(st[4 + i]) for i in range(n_carry)]
            if use_mn:
                # strip MATCH_NUMBER counter sentinels (one per user):
                # vm bit _MN_BIT, count in the tie-break field
                live = [
                    j for j in range(len(b_k)) if not (b_vm[j] & _MN_BIT)
                ]
                for j in range(len(b_k)):
                    if b_vm[j] & _MN_BIT:
                        mn_counts[b_k[j]] = b_tb[j]
                if len(live) != len(b_k):
                    b_k = [b_k[j] for j in live]
                    b_ts = [b_ts[j] for j in live]
                    b_tb = [b_tb[j] for j in live]
                    b_vm = [b_vm[j] for j in live]
                    b_c = [[c[j] for j in live] for c in b_c]
        else:
            b_k, b_ts, b_tb, b_vm = [], [], [], []
            b_c = [[] for _ in range(n_carry)]
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                ts_np = pdf["__ts"].to_numpy(dtype=np.int64, copy=False)
                # LATE rows (ts <= watermark): the certified prefix there
                # was already decided — appending would rewrite history
                # nondeterministically. Drop, like the reference CEP's
                # default late-event handling (CepOperator skips elements
                # behind the watermark).
                live = ts_np > wm_us
                if not live.all():
                    pdf = pdf[live]
                    ts_np = ts_np[live]
                b_ts.extend(ts_np.tolist())
                b_k.extend(
                    pdf["__k"].to_numpy(dtype=np.int64, copy=False).tolist()
                )
                b_tb.extend(
                    pdf["__tb"].to_numpy(dtype=np.int64, copy=False).tolist()
                )
                b_vm.extend(
                    pdf["__vm"].to_numpy(dtype=np.int64, copy=False).tolist()
                )
                for i, c in enumerate(carry):
                    # Series.tolist() yields Python scalars — the state
                    # crosses to the JVM via pickle and numpy scalars are
                    # not unpicklable there (same contract as the old
                    # per-row .item() path, minus the per-row cost)
                    b_c[i].extend(pdf[c].tolist())
        _check_group_budget(len(b_k), budget, "streaming_match_recognize")

        out_rows: list[list] = []
        keep = ([], [], [], [], *[[] for _ in range(n_carry)])
        pending_ts: list[int] = []
        n_all = len(b_k)
        k_all = np.asarray(b_k, dtype=np.int64)
        ts_all = np.asarray(b_ts, dtype=np.int64)
        tb_all = np.asarray(b_tb, dtype=np.int64)
        vm_all = np.asarray(b_vm, dtype=np.int64)
        # Stable sort by (k, ts, tb, *extra_tb) — np.lexsort's primary
        # key is the LAST array, and every key is a typed bigint/double
        # state column (never object), so this equals the old
        # sorted(key=tuple) ordering including tie stability.
        sort_keys = [np.asarray(b_c[ci]) for ci in reversed(extra_tb_ci)]
        sort_keys += [tb_all, ts_all, k_all]
        if n_all:
            order = np.lexsort(sort_keys)
            k_sorted = k_all[order]
            bounds = np.flatnonzero(np.diff(k_sorted)) + 1
            user_starts = [0, *bounds.tolist(), n_all]
        else:
            order = np.empty(0, dtype=np.int64)
            user_starts = [0]
        # retained rows, rebuilt by one vectorized gather after the scan
        kept_gi: list[int] = []
        kept_flags: list[int] = []
        # group by user
        for si in range(len(user_starts) - 1):
            idxs = order[user_starts[si]:user_starts[si + 1]]
            user = int(k_all[idxs[0]])
            ts = ts_all[idxs].tolist()
            vm = vm_all[idxs].tolist()
            n = len(idxs)
            n_cert = 0
            while n_cert < n and ts[n_cert] <= wm_us:
                n_cert += 1
            # NEXT navigation (r8): a row is FINALLY evaluable only once
            # its max-offset successor is certified
            n_eval = max(0, n_cert - max_next)

            def elem_ok(pi: int, j: int) -> bool:
                return bool(vm[j] & elem_mask[pi])

            def ign_ok(pi: int, j: int) -> bool:
                # A zero mask means the element has no ignore edge; a
                # caller must check ``ign is not None`` first, because
                # a zero mask would read as "never ignorable".
                assert ign_mask[pi], "ign_ok on an element with no ignore edge"
                return bool(vm[j] & ign_mask[pi])

            def label(pi: int, j: int) -> str:
                m = vm[j]
                for v, b in elem_bits[pi]:
                    if m & b:
                        return v
                raise AssertionError("unlabelable matched row")

            def limit_for(i0: int) -> int:
                # right window side EXCLUSIVE (r12 — NFATest.java:158;
                # NFA.isStateTimedOut at >=), matching the batch _limit
                if within_us is None:
                    return n_eval
                lim = i0
                while lim < n_eval and ts[lim] < ts[i0] + within_us:
                    lim += 1
                return lim

            def horizon_rows(i0: int) -> int:
                """Count of buffered rows inside i0's WITHIN horizon —
                the NEXT targets a horizon-final decision may read."""
                h = i0
                while h < n and ts[h] < ts[i0] + within_us:
                    h += 1
                return h

            def ok_fn(v: str, j: int, binds: dict) -> bool:
                # cross-variable predicate under the in-flight binds —
                # identical to the batch evaluator (match_recognize.py
                # ok_fn): __row is the candidate row, __bind looks up
                # already-matched rows; NULL/UNKNOWN coerce to false.
                if v not in cross_fns:
                    return bool(vm[j] & var_bit[v])

                def __row(col):
                    jj = j
                    if col in nav_prev:
                        base, off = nav_prev[col]
                        jj, col = j - off, base
                        if jj < 0:
                            return _NULL  # before the partition start
                    elif col in nav_next:
                        base, off = nav_next[col]
                        jj, col = j + off, base
                        if jj >= len(ts):
                            # not arrived — decision bounds (n_eval /
                            # horizon+max_next) guarantee this value is
                            # never read on a FINAL evaluation
                            return _NULL
                    x = arr[col][jj]
                    return _NULL if x is None or x != x else x

                def __bind(bv, col, fn, off):
                    bidx = binds.get(bv, ())
                    if bv == v:
                        bidx = list(bidx) + [j]
                    k = (len(bidx) - 1 - off) if fn == "LAST" else off
                    if k < 0 or k >= len(bidx):
                        return _NULL
                    x = arr[col][bidx[k]]
                    return _NULL if x is None or x != x else x

                def __bagg(bv, col, fn, incl=0):
                    # aggregate over the variable's binds (r10, same
                    # semantics as the batch evaluator: RUNNING — the
                    # own variable includes the current candidate;
                    # _INCL marks an as-if-taken gap evaluation; _EXCL
                    # (-1, r11) an until() aggregate over accepted
                    # events only)
                    bidx = binds.get(bv, ())
                    if incl > 0 or (incl == 0 and bv == v):
                        bidx = list(bidx) + [j]
                    vals = [
                        x for x in (arr[col][i] for i in bidx)
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
                    # UNIVERSAL variable navigation (r12): the match's
                    # rows so far in stream order, candidate last
                    rows = sorted(i for ix in binds.values() for i in ix)
                    rows.append(j)
                    k = (len(rows) - 1 - off) if fn == "LAST" else off
                    if k < 0 or k >= len(rows):
                        return _NULL
                    x = arr[col][rows[k]]
                    return _NULL if x is None or x != x else x

                _EVAL_G["__row"], _EVAL_G["__bind"] = __row, __bind
                _EVAL_G["__bagg"] = __bagg
                _EVAL_G["__ubind"] = __ubind
                try:
                    res = eval(  # noqa: S307 - compiled validated subset
                        cross_fns[v], _EVAL_G,
                    )
                except (TypeError, ZeroDivisionError):
                    return False
                return (
                    res is not _UNKNOWN and res is not _NULL and bool(res)
                )

            def try_match_binds(start: int, limit: int):
                # Bind-tracking DFS, the batch try_match_binds shape:
                # labels and extension validity evaluate under the binds
                # accumulated so far.
                def rec(pi: int, ri: int, binds: dict):
                    if pi == len(pat):
                        return binds, ri
                    alts, (lo, hi), greedy, _ign, _body = pat[pi]
                    cur = {v: list(x) for v, x in binds.items()}
                    labels = []
                    while (
                        (hi is None or len(labels) < hi)
                        and ri + len(labels) < limit
                    ):
                        j = ri + len(labels)
                        v_hit = next(
                            (v for v in alts if ok_fn(v, j, cur)), None
                        )
                        if v_hit is None:
                            break
                        labels.append(v_hit)
                        cur.setdefault(v_hit, []).append(j)
                    take_max = len(labels)
                    order = (
                        range(take_max, lo - 1, -1)
                        if greedy
                        else range(lo, take_max + 1)
                    )
                    for take in order:
                        nb = {v: list(x) for v, x in binds.items()}
                        for ti in range(take):
                            nb.setdefault(labels[ti], []).append(ri + ti)
                        res = rec(pi + 1, ri + take, nb)
                        if res is not None:
                            return res
                    return None

                res = rec(0, start, {})
                if res is None:
                    return None
                binds, end = res
                if end == start:
                    return None
                return {v: sorted(i) for v, i in binds.items() if i}, end

            def try_match_own(start: int, limit: int):
                # Identical semantics to the batch compiler's try_match
                # (match_recognize.py): greedy tries longest first,
                # reluctant shortest; only repetition counts backtrack.
                def rec(pi: int, ri: int):
                    if pi == len(pat):
                        return {}, ri
                    _alts, (lo, hi), greedy, _ign, _body = pat[pi]
                    take_max = 0
                    while (
                        (hi is None or take_max < hi)
                        and ri + take_max < limit
                        and elem_ok(pi, ri + take_max)
                    ):
                        take_max += 1
                    if (
                        greedy
                        and (hi is None or hi > lo)
                        and pi + 1 < len(pat)
                        and set(_alts) & cep_greedy
                    ):
                        # r12 — greedy() PROCEED guard (CEPITCase:1049;
                        # NFACompiler updateWithGreedyCondition): in
                        # this strictly-contiguous scan every shorter
                        # take leaves the loop AT a row that would
                        # extend it — forbidden; only the maximal take
                        # proceeds (no backtracking to shorter counts).
                        # Batch encodes the same rule as compiled
                        # DEFINE conjuncts.
                        rng = range(take_max, take_max + 1) if (
                            take_max >= lo
                        ) else range(0)
                    else:
                        rng = (
                            range(take_max, lo - 1, -1)
                            if greedy
                            else range(lo, take_max + 1)
                        )
                    for take in rng:
                        res = rec(pi + 1, ri + take)
                        if res is not None:
                            assign, end = res
                            if take:
                                assign = dict(assign)
                                for j in range(ri, ri + take):
                                    v = label(pi, j)
                                    assign[v] = [j] + assign.get(v, [])
                            return assign, end
                    return None

                res = rec(0, start)
                if res is None:
                    return None
                assign, end = res
                if end == start:
                    return None
                return {v: sorted(ix) for v, ix in assign.items()}, end

            try_match = try_match_binds if cross_fns else try_match_own

            # r9 engine for relaxed (ignore-edge) loops and multi-match
            # emission. Finality is frontier-based instead of l_max-based:
            # every scan decision is made on a certified row, a horizon
            # cut, or a reached bound — ONLY a scan that stops at the
            # n_eval frontier while still extendable is undecided.
            frontier_hit = [False]

            def body_attempt(j: int, limit: int, steps):
                """Match a group loop's BODY once from row j (the first
                step takes AT j — the caller handles between-repetition
                ignore rows). Later steps may skip rows satisfying
                their inner pre-gap predicate (the compiled inner
                relaxed contiguity). Returns (consumed [(row, var)],
                next_j), or 'frontier' (ran into the n_eval frontier
                mid-body — undecided), or None (dead: a row neither
                extends the body nor can be skipped)."""
                consumed: list[tuple[int, str]] = []
                for si, (salts, pre) in enumerate(steps):
                    while True:
                        if j >= limit:
                            return "frontier" if limit == n_eval else None
                        hit = next(
                            (
                                v for v in salts
                                if vm[j] & var_bit[v]
                            ),
                            None,
                        )
                        if hit is not None:
                            consumed.append((j, hit))
                            j += 1
                            break
                        if si == 0 or pre is None:
                            return None
                        if not (vm[j] & var_bit[pre]):
                            return None
                        j += 1
                return consumed, j

            def body_attempts(j0: int, limit: int, steps):
                """All ways to match a group body ONCE from row j0 (r11
                — a step whose pre-gap is ENUM-flagged rides the
                reference's SKIP_TILL_ANY inner edge: the gap accepts
                ANY row, so every later qualifying row is a separate
                branch). SKIP_TILL_NEXT steps keep the single first-hit
                path (their gap is NOT(take) — a qualifying row can
                never be skipped). Returns ``(alternatives,
                hit_frontier)`` with alternatives a list of
                ``(consumed [(row, var)], next_j)``."""
                out_alts: list[tuple[list[tuple[int, str]], int]] = []
                hit = [False]

                def srec(si: int, j: int, consumed) -> None:
                    if si == len(steps):
                        out_alts.append((list(consumed), j))
                        return
                    salts, pre = steps[si]
                    enum_pre = pre is not None and pre in cep_enum
                    jj = j
                    while True:
                        if jj >= limit:
                            if limit == n_eval:
                                hit[0] = True
                            return
                        v_hit = next(
                            (
                                v for v in salts
                                if vm[jj] & var_bit[v]
                            ),
                            None,
                        )
                        if v_hit is not None:
                            consumed.append((jj, v_hit))
                            srec(si + 1, jj + 1, consumed)
                            consumed.pop()
                            if not enum_pre:
                                return
                            jj += 1
                            continue
                        if si == 0 or pre is None:
                            return
                        if not enum_pre and not (
                            vm[jj] & var_bit[pre]
                        ):
                            return
                        jj += 1

                srec(0, j0, [])
                return out_alts, hit[0]

            def rec_body_alts(steps, j0: int, limit: int):
                """All ways to match a RECURSIVE body once from row j0
                (r11 nested group loops — the first take lands exactly
                at j0; later steps skip pre-gap-qualifying rows, enum
                pre-gaps branch per extent, nested loop steps branch
                per repetition count). Returns (alternatives,
                hit_frontier)."""
                outs: list[tuple[list[tuple[int, str]], int]] = []
                hit = [False]

                def srec(si: int, j: int, consumed, first: bool) -> None:
                    if si == len(steps):
                        outs.append((list(consumed), j))
                        return
                    st = steps[si]
                    pre = st[-1]
                    enum_pre = pre is not None and pre in cep_enum
                    jj = j
                    while True:
                        if jj >= limit:
                            if limit == n_eval:
                                hit[0] = True
                            return
                        if st[0] == "one":
                            v_hit = next(
                                (
                                    v for v in st[1]
                                    if vm[jj] & var_bit[v]
                                ),
                                None,
                            )
                            if v_hit is not None:
                                consumed.append((jj, v_hit))
                                srec(si + 1, jj + 1, consumed, False)
                                consumed.pop()
                                if not enum_pre:
                                    return
                                jj += 1
                                continue
                        else:  # nested loop step
                            head = _rec_head_alts(st[1])
                            if any(
                                vm[jj] & var_bit[v]
                                for v in head
                            ):
                                l_alts, l_hit = rec_loop_alts(
                                    st[1], st[2], st[3], st[4], jj, limit
                                )
                                if l_hit:
                                    hit[0] = True
                                for c2, nj in l_alts:
                                    n0 = len(consumed)
                                    consumed.extend(c2)
                                    srec(si + 1, nj, consumed, False)
                                    del consumed[n0:]
                                if not enum_pre:
                                    return
                                jj += 1
                                continue
                        if first or pre is None:
                            return
                        if not enum_pre and not (
                            vm[jj] & var_bit[pre]
                        ):
                            return
                        jj += 1

                srec(0, j0, [], True)
                return outs, hit[0]

            def rec_loop_alts(
                steps, lo: int, hi, ign: str, j0: int, limit: int
            ):
                """All repetition-count alternatives of a recursive
                loop whose FIRST repetition anchors at j0. Between
                repetitions, rows matching the loop's ignore variable
                (NOT(head) — a head row can never be skipped) are
                stepped over. Returns (alternatives, hit_frontier)."""
                outs: list[tuple[list[tuple[int, str]], int]] = []
                hit = [False]
                ign_bit = var_bit[ign]
                head = _rec_head_alts(steps)
                head_bits = 0
                for v in head:
                    head_bits |= var_bit[v]

                def lrec(j2: int, reps: int, consumed) -> None:
                    if reps >= lo:
                        outs.append((list(consumed), j2))
                    if hi is not None and reps >= hi:
                        return
                    jj = j2
                    while True:
                        if jj >= limit:
                            if limit == n_eval:
                                hit[0] = True
                            return
                        if vm[jj] & head_bits:
                            b_alts, b_hit = rec_body_alts(
                                steps, jj, limit
                            )
                            if b_hit:
                                hit[0] = True
                            for c2, nj in b_alts:
                                n0 = len(consumed)
                                consumed.extend(c2)
                                lrec(nj, reps + 1, consumed)
                                del consumed[n0:]
                            return  # head rows are unskippable
                        if reps and (vm[jj] & ign_bit):
                            jj += 1
                            continue
                        return

                lrec(j0, 0, [])
                return outs, hit[0]

            def scan_elem(pi: int, ri: int, limit: int):
                """Maximal qualifying takes for element pi from ri, one
                entry PER REPETITION: ``[(row, var), ...]`` per take
                (single-variable elements consume one row per take, a
                group loop's take consumes its whole body — r10).
                Ignore-flagged rows between takes are skipped (the
                reference NFA's IGNORE self-transition — cannot fire
                before the first take: reaching the element is governed
                by the PREVIOUS gap element). A group-loop repetition
                whose HEAD matched but whose tail failed ends the loop:
                the between-reps ignore edge is NOT(head), so the head
                row can never be skipped."""
                alts, (lo, hi), greedy, ign, body = pat[pi]
                takes: list[list[tuple[int, str]]] = []
                j = ri
                while (hi is None or len(takes) < hi) and j < limit:
                    if body is None:
                        if elem_ok(pi, j):
                            takes.append([(j, label(pi, j))])
                            j += 1
                            continue
                    else:
                        head_alts = body[0][0]
                        if any(
                            vm[j] & var_bit[v]
                            for v in head_alts
                        ):
                            r = body_attempt(j, limit, body)
                            if r == "frontier":
                                frontier_hit[0] = True
                                return takes
                            if r is None:
                                return takes  # tail failed: loop ends
                            consumed, j = r
                            takes.append(consumed)
                            continue
                    if ign is not None and takes and ign_ok(pi, j):
                        j += 1
                    else:
                        break
                if (
                    j >= limit
                    and limit == n_eval
                    and (hi is None or len(takes) < hi)
                ):
                    frontier_hit[0] = True
                return takes

            def try_match_enum(start: int, limit: int):
                """All matches from ``start``: enum-flagged elements
                branch per take count (reference default emission —
                NFAITCase.java:1871), others keep first-success
                preference. Dedup on positive binds (ignore/gap rows are
                not part of a match's identity)."""
                results: list[tuple[dict, int]] = []
                seen_loc: set[tuple] = set()

                def rec(pi: int, ri: int, assign: dict) -> bool:
                    if pi == len(pat):
                        if ri == start:
                            return False
                        a = {
                            v: ix for v, ix in assign.items()
                            if v not in cep_gaps
                        }
                        if not a:
                            return False
                        key = tuple(sorted(
                            (v, tuple(ix)) for v, ix in a.items()
                        ))
                        if key not in seen_loc:
                            seen_loc.add(key)
                            results.append((a, ri))
                        return True
                    _alts, (lo, hi), greedy, _ign, _body = pat[pi]
                    if (
                        _body is not None
                        and isinstance(_body, tuple)
                        and _body[0] == "rec"
                    ):
                        # r11 — NESTED group loops: the recursive
                        # matcher enumerates every repetition-count and
                        # inner-loop alternative; all of this start's
                        # matches decide together under the same
                        # frontier rule.
                        l_alts, l_hit = rec_loop_alts(
                            _body[1], lo, hi, _ign, ri, limit
                        )
                        if l_hit:
                            frontier_hit[0] = True
                        found_r = False
                        for consumed, nj in l_alts:
                            na = {v: list(ix) for v, ix in assign.items()}
                            for jj, v in consumed:
                                na.setdefault(v, []).append(jj)
                            if rec(pi + 1, nj, na):
                                found_r = True
                        return found_r
                    if _body is not None and elem_body_enum[pi]:
                        # r11 — enum inner gaps: repetitions branch per
                        # body alternative (gap extent), so the linear
                        # takes list cannot represent them; enumerate
                        # repetitions recursively. The between-reps
                        # ignore edge stays SKIP_TILL_NEXT (NOT(head) —
                        # a head row can never be skipped).
                        head_bits = 0
                        for v in _body[0][0]:
                            head_bits |= var_bit[v]
                        ign_bit = (
                            var_bit[_ign]
                            if _ign is not None else 0
                        )
                        found_b = [False]

                        def brec(ri2: int, reps: int, na: dict) -> None:
                            if reps >= lo and rec(
                                pi + 1, ri2,
                                {v: list(ix) for v, ix in na.items()},
                            ):
                                found_b[0] = True
                            if hi is not None and reps >= hi:
                                return
                            j = ri2
                            while True:
                                if j >= limit:
                                    if limit == n_eval:
                                        frontier_hit[0] = True
                                    return
                                if vm[j] & head_bits:
                                    balts, bhit = body_attempts(
                                        j, limit, _body
                                    )
                                    if bhit:
                                        frontier_hit[0] = True
                                    for consumed, nj in balts:
                                        nb = {
                                            v: list(ix)
                                            for v, ix in na.items()
                                        }
                                        for jj, v in consumed:
                                            nb.setdefault(v, []).append(jj)
                                        brec(nj, reps + 1, nb)
                                    return  # head rows are unskippable
                                if reps and ign_bit and (vm[j] & ign_bit):
                                    j += 1
                                    continue
                                return

                        brec(ri, 0, assign)
                        return found_b[0]
                    if _ign is not None and _ign in cep_enum:
                        # r12 — bounded allowCombinations: between
                        # repetitions the SKIP_TILL_ANY ignore edge may
                        # skip ANY row (NFACompiler getInnerIgnoreCondition
                        # SKIP_TILL_ANY -> trueFunction), so the take
                        # sequence itself branches. Enumerate recursively
                        # over the horizon-bounded certified rows: the
                        # FIRST take stays pinned at the entry row (the
                        # preceding gap element owns the entry edge),
                        # later takes branch at every qualifying row
                        # whose skipped prefix the ignore edge accepts.
                        ign_bit2 = var_bit[_ign]
                        found_c = [False]

                        def crec(j2: int, reps: int, na: dict) -> None:
                            if reps >= lo and rec(
                                pi + 1, j2,
                                {v: list(ix) for v, ix in na.items()},
                            ):
                                found_c[0] = True
                            if hi is not None and reps >= hi:
                                return
                            j = j2
                            while True:
                                if j >= limit:
                                    if limit == n_eval:
                                        frontier_hit[0] = True
                                    return
                                if elem_ok(pi, j):
                                    nb = {
                                        v: list(ix)
                                        for v, ix in na.items()
                                    }
                                    nb.setdefault(
                                        label(pi, j), []
                                    ).append(j)
                                    crec(j + 1, reps + 1, nb)
                                if reps == 0:
                                    # no skipping before the first take
                                    return
                                if not (vm[j] & ign_bit2):
                                    return
                                j += 1

                        crec(ri, 0, assign)
                        return found_c[0]
                    takes = scan_elem(pi, ri, limit)
                    if len(takes) < lo:
                        return False
                    order_ = (
                        range(len(takes), lo - 1, -1)
                        if greedy
                        else range(lo, len(takes) + 1)
                    )
                    found = False
                    for take in order_:
                        nxt = takes[take - 1][-1][0] + 1 if take else ri
                        if (
                            greedy
                            and not elem_enum[pi]
                            and (hi is None or hi > lo)
                            and set(_alts) & cep_greedy
                            and take < len(takes)
                            and takes[take][0][0] == nxt
                        ):
                            # r12 — greedy() PROCEED guard
                            # (CEPITCase:1049): leaving the loop AT a
                            # row that would extend it is forbidden;
                            # a shorter take is legal only when an
                            # ignore row separates it from the next
                            # take. Batch = compiled DEFINE conjuncts.
                            continue
                        na = {v: list(ix) for v, ix in assign.items()}
                        for rep in takes[:take]:
                            for j, v in rep:
                                na.setdefault(v, []).append(j)
                        if rec(pi + 1, nxt, na):
                            found = True
                            if not elem_enum[pi]:
                                break
                    return found

                rec(0, start, {})
                return [
                    ({v: sorted(ix) for v, ix in a.items()}, end)
                    for a, end in results
                ]

            arr = {
                c: np.asarray([b_c[i][j] for j in idxs])
                for i, c in enumerate(carry)
            }
            arr[time_col] = np.asarray(ts, dtype=np.int64)
            # MEASURES may navigate the PARTITION BY column itself
            # (FIRST(A.user_id) …) — constant per group, not in carry
            arr[part_cols[0]] = np.full(len(idxs), user, dtype=np.int64)

            # context rows (PREV lookback) are a prefix: skip as starts
            pos = 0
            while pos < n and vm[pos] & _CTX_BIT:
                pos += 1
            def _emit_one(assign):
                members = sorted(
                    (j, v) for v, ix in assign.items() for j in ix
                )
                mn = None
                if use_mn:
                    mn_counts[user] = mn_counts.get(user, 0) + 1
                    mn = mn_counts[user]
                vals = [user]
                _emit_measures(
                    meas, assign, arr, vals,
                    classifier=members[-1][1], match_no=mn,
                )
                out_rows.append(vals)

            def _resume_to(match_start: int, assign: dict) -> int:
                """AFTER MATCH SKIP TO FIRST/LAST <var> resume position
                (r11 — reference SkipToFirst/SkipToLast on streams).
                The target row belongs to the just-emitted, fully
                certified match, so finality is unaffected."""
                which, svar = skip_to
                idxs_v = assign.get(svar)
                if not idxs_v:
                    raise MatchRecognizeError(
                        f"AFTER MATCH SKIP TO {which.upper()} {svar}: "
                        "variable did not participate in the match"
                    )
                r = idxs_v[0] if which == "first" else idxs_v[-1]
                if r <= match_start:
                    raise MatchRecognizeError(
                        f"AFTER MATCH SKIP TO {which.upper()} {svar} "
                        "cannot advance past the match start "
                        "(infinite loop)"
                    )
                return r

            keep_from = None
            use_new = has_enum or has_ignore
            while pos < n_eval:
                horizon_final = (
                    # r12: >= — the within scope is RIGHT-EXCLUSIVE
                    # (ts < start + h), so at wm == start + h every
                    # in-scope row is certified and no future arrival
                    # (ts > wm) can be in scope; waiting for wm STRICTLY
                    # past the horizon made decidability depend on
                    # whether a certified row happened to sit exactly AT
                    # the border (slicing-dependent)
                    within_us is not None and wm_us >= ts[pos] + within_us
                    # NEXT: the last within-horizon row's successors must
                    # themselves be certified before the verdict is final
                    and horizon_rows(pos) + max_next <= n_cert
                )
                if use_new:
                    # ALL this start's matches decide together: final
                    # when no scan stopped at the n_eval frontier while
                    # still extendable, or the horizon has passed
                    frontier_hit[0] = False
                    ms = try_match_enum(pos, limit_for(pos))
                    if not horizon_final and frontier_hit[0]:
                        break  # undecided — keep from here
                    if not ms:
                        pos += 1  # final failure — drop as a start
                        continue
                    for assign, _end in ms:
                        _emit_one(assign)
                    if skip_next:
                        pos = pos + 1
                    elif skip_to is not None:
                        pos = _resume_to(pos, ms[0][0])
                    else:
                        pos = ms[0][1]
                    continue
                hit = try_match(pos, limit_for(pos))
                if hit is None:
                    # final failure only with full decision context
                    ctx_full = (
                        l_max is not None and n_eval - pos >= l_max
                    ) or horizon_final
                    if ctx_full:
                        pos += 1  # row can never start a match — drop
                        continue
                    break  # might match with future rows — keep from here
                assign, end = hit
                safe = (
                    end < n_eval
                    or horizon_final
                    or (l_max is not None and end - pos == l_max)
                )
                if not safe:
                    break  # greedy extension undecided — keep from here
                _emit_one(assign)
                # AFTER MATCH SKIP: past-last jumps the frontier over the
                # match; to-next decides the very next row as its own
                # start; to-first/to-last resumes INSIDE the match (r11)
                if skip_next:
                    pos = pos + 1
                elif skip_to is not None:
                    pos = _resume_to(pos, assign)
                else:
                    pos = end
            keep_from = pos
            # retain up to max_prev consumed rows as navigation context
            lo = max(0, keep_from - max_prev) if max_prev else keep_from
            if lo < n:
                kept_gi.extend(idxs[lo:n].tolist())
                kept_flags.extend([_CTX_BIT] * (keep_from - lo))
                kept_flags.extend([0] * (n - keep_from))
            if keep_from < n:
                # earliest decision we still wait for: the kept head's
                # within-horizon or simply more certified rows.
                nxt = ts[keep_from] + (within_us or 0)
                pending_ts.append(nxt)

        if kept_gi:
            gi_arr = np.asarray(kept_gi, dtype=np.int64)
            fl_arr = np.asarray(kept_flags, dtype=np.int64)
            keep[0].extend(k_all[gi_arr].tolist())
            keep[1].extend(ts_all[gi_arr].tolist())
            keep[2].extend(tb_all[gi_arr].tolist())
            keep[3].extend(((vm_all[gi_arr] & ~_CTX_BIT) | fl_arr).tolist())
            for i in range(n_carry):
                keep[4 + i].extend(map(b_c[i].__getitem__, kept_gi))

        if use_mn:
            # persist per-user MATCH_NUMBER counters as sentinel rows
            # (covers users with no live buffered rows this batch too)
            for u_, cnt in mn_counts.items():
                if cnt > 0:
                    keep[0].append(u_)
                    keep[1].append(_MN_TS)
                    keep[2].append(cnt)
                    keep[3].append(_MN_BIT)
                    for i2, c2 in enumerate(carry):
                        keep[4 + i2].append(
                            0.0 if type_of[c2] == "double" else 0
                        )

        if keep[0]:
            state.update(tuple(keep))
            if pending_ts:
                wm_ms = wm_us // 1000
                # Fire at the FIRST watermark >= the pending horizon
                # (r12 — the horizon-final rule is wm >= start+h, the
                # within scope being right-exclusive). Spark event-time
                # timeouts fire only when the watermark advances BEYOND
                # the set timestamp, so set ceil(horizon_ms) - 1; the
                # old floor+1ms overshot a round horizon by one tick —
                # a start decidable exactly AT the final watermark then
                # emitted only if some OTHER pending start's earlier
                # timer happened to wake the group (slicing-dependent).
                state.setTimeoutTimestamp(
                    max((min(pending_ts) + 999) // 1000 - 1, wm_ms + 1)
                )
            # context-only state (everything decided, nav tail retained)
            # needs no timer: it only matters when new rows arrive.
        elif state.exists:
            state.remove()
        yield pd.DataFrame(out_rows, columns=out_cols)

    import os as _os
    if _os.environ.get("AFS_PROFILE_HANDLER"):  # dev-only hotspot probe
        import cProfile
        import pstats

        _inner = handler

        def handler(key, pdfs, state):  # noqa: F811
            import apache_flink_spark.streaming.match_stream as _ms
            prof = getattr(_ms, "_WORKER_PROF", None)
            if prof is None:
                prof = cProfile.Profile()
                _ms._WORKER_PROF = prof
            prof.enable()
            try:
                res = list(_inner(key, pdfs, state))
            finally:
                prof.disable()
                with open(f"/tmp/afs_prof_{_os.getpid()}.txt", "w") as f:
                    pstats.Stats(prof, stream=f).sort_stats(
                        "tottime"
                    ).print_stats(30)
            yield from res

    return work.groupBy("__grp").applyInPandasWithState(
        handler, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def _event_time_col(stream: DataFrame) -> str:
    """The stream's timestamp column (needed so the watermark column
    survives the pre-state projection)."""
    for f in stream.schema.fields:
        if f.dataType.simpleString() == "timestamp":
            return f.name
    raise MatchRecognizeError(
        "streaming MATCH_RECOGNIZE: the input stream must carry its "
        "watermarked TIMESTAMP column"
    )
