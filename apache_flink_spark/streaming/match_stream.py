"""Streaming MATCH_RECOGNIZE — the keyed-state driver around the shared
matcher (reference CepOperator.java:82 driving NFA.java:76).

Matching itself lives in apache_flink_spark.match_recognize: the body
compiles to the same MatchPlan the batch compiler runs, and the 3VL row
evaluator, the flat/bind-tracking/VM/all-matches matchers and their
dispatch are shared. This module owns only what is streaming-specific:

  * body validation for the streaming subset: ascending epoch-micros
    ORDER BY, BIGINT keys, ONE ROW PER MATCH, a WITHIN horizon for
    unbounded quantifiers, SKIP TO NEXT ROW for CEP multi-match;
  * the keyed state: buffered rows as parallel arrays (key, event time,
    tie-break, variable bitmask, carried columns) — the layout committed
    checkpoints depend on;
  * the certified prefix: rows at or behind the watermark (no earlier row
    can still arrive), less the max NEXT offset (``n_eval``: a row's
    successors must be certified before it is read);
  * one finality rule: a start's decision is final when no scan wanted
    the row at the ``n_eval`` frontier, or when its WITHIN horizon has
    passed. Undecided starts stay buffered, with an event-time timer for
    their horizon;
  * the PREV navigation-context tail and the MATCH_NUMBER counters, both
    riding the state arrays as flagged rows.

Decisions read only the certified prefix, so emission is invariant under
micro-batch slicing (pinned by tests/test_match_stream.py).
"""

from __future__ import annotations

import bisect
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from apache_flink_spark.match_recognize import (
    _BODY_RE,
    _WITHIN_UNIT_US,
    MatchPlan,
    MatchRecognizeError,
    _anchor_alts,
    _cross_columns,
    _emit_measures,
    _measure_sql_type,
    _normalize_quoted_vars,
    _parse_defines,
    _parse_measures,
    _parse_pattern_tree,
    _skip_target,
    _sql_pred_to_python,
    _tree_vars,
)
from apache_flink_spark.streaming.stateful import (
    _check_group_budget,
    key_groups,
    max_group_rows,
)

#: vm-mask high bit flagging a NAVIGATION-CONTEXT row: retained only so
#: PREV() of later rows can read it; never a match start. Riding the mask
#: keeps the checkpoint state layout unchanged (old checkpoints restore
#: with the bit unset — correct: they carried no context rows).
_CTX_BIT = 1 << 62

#: vm-mask bit flagging a MATCH_NUMBER counter sentinel "row": one per
#: user key, event-time -2^62 (sorts first in the key's segment, far below
#: any epoch-micros value), tie-break field = the count. Riding the
#: existing arrays keeps the checkpoint state layout unchanged; old
#: checkpoints carry no sentinels and restore with counters at 0.
_MN_BIT = 1 << 61
_MN_TS = -(1 << 62)

#: column types a buffered row can carry in state, with the filler value
#: a MATCH_NUMBER sentinel row stores for them
_CARRY_ZERO = {
    "bigint": 0, "int": 0, "smallint": 0, "tinyint": 0,
    "double": 0.0, "float": 0.0, "boolean": False, "string": "",
}


def _max_len(node):
    """Most rows one match can span, or None when unbounded."""
    k = node[0]
    if k == "var":
        return node[3]
    if k == "group":
        inner = _max_len(node[1])
        return None if node[3] is None or inner is None else node[3] * inner
    lens = [_max_len(c) for c in node[1]]
    if None in lens:
        return None
    return sum(lens) if k == "seq" else max(lens)


def _loops(node, depth: int = 0):
    """Yield ``(ign, body, lo, hi, greedy, depth)`` for every loop the CEP
    compiler emits — the anchor+repetition shape ``X (G*? X){a,b}`` with
    X a variable or a group body, lo/hi counting the anchor — and
    ``depth`` the number of loop bodies around it."""
    if node[0] == "group":
        yield from _loops(node[1], depth)
        return
    if node[0] not in ("seq", "alt"):
        return
    items = node[1]
    i = 0
    while i < len(items):
        nxt = items[i + 1] if node[0] == "seq" and i + 1 < len(items) else None
        rep = None
        if nxt is not None and nxt[0] == "group" and nxt[1][0] == "seq":
            rep = (nxt[1][1], nxt[2], nxt[3], nxt[4])
        elif nxt is not None and nxt[0] == "seq":  # an exact {1} repetition
            rep = (nxt[1], 1, 1, True)
        if rep is not None and len(rep[0]) == 2:
            gap, body = rep[0]
            if (
                body == items[i] and gap[0] == "var" and len(gap[1]) == 1
                and gap[2:] == (0, None, False)
            ):
                lo, hi, greedy = rep[1:]
                yield (
                    gap[1][0], body, 1 + lo, None if hi is None else 1 + hi,
                    greedy, depth,
                )
                yield from _loops(body, depth + 1)
                i += 2
                continue
        yield from _loops(items[i], depth)
        i += 1


def _check_loops(tree, cep_enum: frozenset, cep_gaps: frozenset):
    """Reject the CEP loop shapes the streaming subset leaves to the batch
    path. Returns (has_enum, comb): whether the pattern emits several
    matches per start, and whether a flat loop's repetitions are
    SKIP_TILL_ANY (allowCombinations)."""
    between = set()
    comb = False
    for ign, body, lo, hi, greedy, depth in _loops(tree):
        takes = _tree_vars(body) - cep_gaps
        if depth:
            if not greedy or not takes & cep_enum:
                raise MatchRecognizeError(
                    "a greedy()/reluctant()-pinned loop NESTED inside a "
                    "streaming group body is not supported — pins are "
                    "ambiguous inside the enumerating repetition scan; use "
                    "the default emission or the batch cep_select"
                )
            if ign in cep_enum:
                raise MatchRecognizeError(
                    "streaming allowCombinations between NESTED group "
                    "repetitions is not supported — the per-start subset "
                    "enumeration is unbounded in stream state; use the "
                    "batch cep_select"
                )
            continue
        between.add(ign)
        if ign in cep_enum:
            if body[0] != "var":
                raise MatchRecognizeError(
                    "streaming allowCombinations (SKIP_TILL_ANY) between "
                    "GROUP-loop repetitions is not supported — the "
                    "branch-per-gap-extent scan composes with the body "
                    "scanner's own branching exponentially; use the batch "
                    "cep_select"
                )
            comb = True
        elif (
            body[0] != "var" and lo != hi and not takes & cep_enum
            and (_tree_vars(body) & cep_enum or any(_loops(body)))
        ):
            raise MatchRecognizeError(
                "a greedy()/reluctant()-pinned streaming group loop with "
                "followedByAny INSIDE the body is not supported — the "
                "take-count pin is ambiguous across branching gap extents; "
                "use the default emission, an exact times(n) count, or the "
                "batch cep_select"
            )
    return bool(cep_enum - between), comb


def streaming_match_recognize(
    stream: DataFrame, body: str,
    cep_enum_vars: frozenset | None = None,
    cep_gap_vars: frozenset | None = None,
) -> DataFrame:
    """Run a MATCH_RECOGNIZE body on an unbounded stream.

    ``stream`` must be watermarked (withWatermark on its event-time
    column) and contain the ORDER BY columns; the first ORDER BY column
    must be epoch-micros BIGINT (the event-time image the watermark
    certifies). Returns the streaming matches DataFrame (ONE ROW PER
    MATCH: partition columns + measures).

    ``cep_enum_vars`` / ``cep_gap_vars`` are set by the CEP Pattern
    compiler, as for compile_match_recognize: the reference's default
    MULTI-MATCH emission (every loop prefix / optional branch is its own
    match, NFAITCase.java:1871), all of a start's matches decided
    together, and the ignore-edge variables excluded from match
    identity."""
    cep_enum = frozenset(cep_enum_vars or ())
    cep_gaps = frozenset(cep_gap_vars or ())
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
    tree = _parse_pattern_tree(m.group("pat"))
    variables = _tree_vars(tree)
    has_enum, comb = _check_loops(tree, cep_enum, cep_gaps)
    measures, post_fns = _parse_measures(m.group("meas"))
    if post_fns:
        # the streaming NFA emits through the keyed-state lane; the
        # scalar-UDF measure post-projection is batch-only so far
        raise MatchRecognizeError(
            "scalar-function MEASURES are not supported on the streaming "
            f"MATCH_RECOGNIZE path yet ({sorted(post_fns.values())}); "
            "apply the function in the outer SELECT over the emitted "
            "columns"
        )
    # MATCH_ROWTIME(): universal LAST of the event-time ORDER BY column —
    # same rewrite as the batch path
    measures = [
        ("LAST", None, order_specs[0], alias, sem)
        if kind == "MATCH_ROWTIME" else (kind, var, col, alias, sem)
        for kind, var, col, alias, sem in measures
    ]
    src_col_names = {f.name for f in stream.schema.fields}
    # Cross-variable DEFINEs read their columns from state, so they may
    # read only columns state can carry; own-row parts over other columns
    # are evaluated on the JVM before the state (_parse_defines hoists
    # them). If that is not enough, parse against every column and let
    # the carry check below name the column.
    try:
        defines, nav_cols, cross_defs = _parse_defines(
            m.group("defs"), variables,
            {f.name for f in stream.schema.fields
             if f.dataType.simpleString() in _CARRY_ZERO},
        )
    except MatchRecognizeError:
        defines, nav_cols, cross_defs = _parse_defines(
            m.group("defs"), variables, src_col_names
        )
    # PREV navigation: a certified row's predecessors are physically fixed
    # (late rows are rejected), so PREV is final once the row certifies.
    # Each key retains a NAVIGATION-CONTEXT tail of up to max(offset)
    # consumed rows, flagged by _CTX_BIT. NEXT navigation: a row's
    # successor is fixed once the successor itself certifies (anything
    # arriving between them would be late), so decisions read rows only up
    # to n_eval = n_cert - max_next, and a horizon-final verdict waits for
    # max_next certified rows past the horizon cut.
    # Own-row parts of cross-variable DEFINEs hoisted to the JVM ("OWN")
    # are stateless projections computed before the state, like __vm.
    nav: dict[str, tuple[str, int]] = {}
    max_prev = max_next = 0
    for alias, (fn, col, n) in nav_cols.items():
        if fn == "OWN":
            stream = stream.withColumn(alias, F.expr(col))
        elif fn == "NEXT":
            nav[alias] = (col, n)
            max_next = max(max_next, n)
        else:
            nav[alias] = (col, -n)
            max_prev = max(max_prev, n)
    # Own-row DEFINEs that navigate cannot evaluate JVM-side (the lag
    # column does not exist before the state); they join the
    # cross-variable predicates on the shared 3VL evaluator.
    cross_codes = dict(cross_defs)
    for var, pred in list(defines.items()):
        if "__mr_prev" in pred or "__mr_next" in pred:
            cross_codes[var] = _sql_pred_to_python(
                pred, src_col_names | set(nav), var
            )
            del defines[var]
    cross_cols = {
        c for c in _cross_columns(cross_codes.values()) if c not in nav
    } | {col for col, _off in nav.values()}
    # SKIP TO NEXT ROW (the reference CEP's no-skip default) decides each
    # row as its own start; SKIP TO FIRST/LAST <var> resumes at a row of
    # the just-emitted, fully decided match.
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
            first = tree[1][0] if tree[0] == "seq" else tree
            if (
                which == "FIRST" and first[0] == "var"
                and first[1] == (svar,) and first[2] >= 1
            ):
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
        if _anchor_alts(tree) is None:
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
    # MATCH_NUMBER: a per-key BIGINT counter, riding the state arrays as
    # one sentinel row per user (_MN_BIT, count in the tie-break field).
    # Numbering is deterministic: matches decide in event-time order.
    use_mn = any(kind == "MATCH_NUMBER" for kind, *_rest in measures)
    for kind, var, col, alias, _sem in measures:
        if var is not None and var not in variables:
            raise MatchRecognizeError(
                f"MEASURES references unknown variable {var!r}"
            )
    if comb and within_us is None:
        # The precise bound that breaks without a horizon: the
        # SKIP_TILL_ANY edge makes EVERY buffered row a live skip target,
        # so a start's undecided alternative set is 2^(rows since start)
        # and no row after the start can ever be released from state.
        raise MatchRecognizeError(
            "streaming allowCombinations (SKIP_TILL_ANY between "
            "repetitions) requires a within() horizon — without one, "
            "every buffered row stays a live skip target forever "
            "(2^n undecided alternatives, no state cleanup); bound the "
            "pattern with within() or use the batch cep_select"
        )
    if _max_len(tree) is None and within_us is None:
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
    if len(part_cols) != 1:
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE: exactly one BIGINT PARTITION BY "
            "column is supported in the streaming subset"
        )

    meas_cols = sorted({c for _, _, c, _, _ in measures if c is not None})
    # tie-breaks beyond the first ride the per-row carry arrays; the
    # first stays in the dedicated tb field
    extra_tb = tiebreaks[1:]
    carry = [
        c for c in sorted({*meas_cols, *cross_cols, *extra_tb})
        if c not in (time_col, *part_cols)
    ]
    for c in carry:
        if type_of.get(c) not in _CARRY_ZERO:
            raise MatchRecognizeError(
                f"streaming MATCH_RECOGNIZE: measure/DEFINE column {c!r} "
                f"must be numeric, BOOLEAN or STRING (state layout); got "
                f"{type_of.get(c)!r}"
            )

    spark = stream.sparkSession
    g = key_groups(spark)
    budget = max_group_rows(spark)

    var_list = sorted(variables)
    if len(var_list) >= 62:
        raise MatchRecognizeError(
            "streaming MATCH_RECOGNIZE supports at most 61 pattern "
            "variables (bitmask state layout)"
        )
    var_bit = {v: 1 << i for i, v in enumerate(var_list)}
    # JVM-side own-row predicate evaluation (batch compiler step 3),
    # packed into one BIGINT mask: stateless, so it commutes with
    # micro-batch slicing, and a fixed state layout.
    mask = F.lit(0).cast("long")
    for bit, var in enumerate(var_list):
        pred = defines.get(var)
        ok = F.expr(pred).cast("boolean") if pred else F.lit(True)
        mask = mask + F.when(
            F.coalesce(ok, F.lit(False)), F.lit(1 << bit)
        ).otherwise(F.lit(0))

    plan = MatchPlan(tree, cross_codes, cep_enum, cep_gaps)
    meas = list(measures)
    tb_col = tiebreaks[0] if tiebreaks else None
    extra_tb_ci = [carry.index(c) for c in extra_tb]

    out_fields = [(part_cols[0], type_of[part_cols[0]])]
    for kind, var, col, alias, _sem in meas:
        out_fields.append((alias, _measure_sql_type(kind, type_of.get(col))))
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    out_cols = [n for n, _ in out_fields]

    # State: parallel arrays per buffered row — partition key, event time,
    # tie-break, var mask, then each carried column.
    state_fields = [
        "k array<long>", "ts array<long>", "tb array<long>",
        "vm array<long>",
    ]
    for i, c in enumerate(carry):
        state_fields.append(f"c{i} array<{type_of[c]}>")
    state_schema = ", ".join(state_fields)

    work = stream.select(
        F.pmod(F.xxhash64(F.col(part_cols[0])), F.lit(g)).alias("__grp"),
        F.col(part_cols[0]).alias("__k"),
        F.col(time_col).alias("__ts"),
        (F.col(tb_col) if tb_col else F.lit(0)).cast("long").alias("__tb"),
        mask.cast("long").alias("__vm"),
        *[F.col(c) for c in carry],
        F.col(_event_time_col(stream)).alias("__evt"),
    )
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
                # strip the MATCH_NUMBER counter sentinels
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
                # was already decided — appending would rewrite history.
                # Drop, like the reference CEP (CepOperator skips elements
                # behind the watermark).
                live = ts_np > wm_us
                if not live.all():
                    pdf = pdf[live]
                    ts_np = ts_np[live]
                b_ts.extend(ts_np.tolist())
                for b, c in ((b_k, "__k"), (b_tb, "__tb"), (b_vm, "__vm")):
                    b.extend(
                        pdf[c].to_numpy(dtype=np.int64, copy=False).tolist()
                    )
                for i, c in enumerate(carry):
                    # Python scalars: the state crosses to the JVM via
                    # pickle, where numpy scalars do not unpickle
                    b_c[i].extend(pdf[c].tolist())
        _check_group_budget(len(b_k), budget, "streaming_match_recognize")

        # One buffer for the whole key group, sorted by (k, ts, tb,
        # *extra_tb) — np.lexsort's primary key is the LAST array; every
        # key is a typed bigint/double column, so ties stay stable. Each
        # user is a segment [s, e) of it, like a batch partition key.
        n_all = len(b_k)
        k_all = np.asarray(b_k, dtype=np.int64)
        ts_all = np.asarray(b_ts, dtype=np.int64)
        tb_all = np.asarray(b_tb, dtype=np.int64)
        vm_all = np.asarray(b_vm, dtype=np.int64)
        sort_keys = [np.asarray(b_c[ci]) for ci in reversed(extra_tb_ci)]
        order = np.lexsort([*sort_keys, tb_all, ts_all, k_all])
        k_sorted = k_all[order]
        vm_sorted = vm_all[order]
        users = k_sorted.tolist()
        ts = ts_all[order].tolist()
        vm = vm_sorted.tolist()
        arr = {c: np.asarray(b_c[i])[order] for i, c in enumerate(carry)}
        arr[time_col] = ts_all[order]
        # MEASURES may read the PARTITION BY column itself
        arr[part_cols[0]] = k_sorted

        def value(col: str, j: int):
            if col in nav:  # PREV/NEXT: a neighbour row of the same user
                col, off = nav[col]
                j2 = j + off
                if j2 < 0 or j2 >= n_all or users[j2] != users[j]:
                    return None
                j = j2
            return arr[col][j]

        match = plan.matcher(
            {v: (vm_sorted & b) != 0 for v, b in var_bit.items()}, value
        )

        out_rows: list[list] = []
        pending_ts: list[int] = []
        kept: list = []
        kept_flags: list[int] = []
        bounds = [0, *(np.flatnonzero(np.diff(k_sorted)) + 1).tolist(), n_all]
        for s, e in zip(bounds, bounds[1:]):
            if s == e:
                continue
            user = users[s]
            n_cert = bisect.bisect_right(ts, wm_us, s, e)
            n_eval = max(s, n_cert - max_next)

            def limit_for(i0: int) -> int:
                # the WITHIN scope is right-EXCLUSIVE (NFATest.java:158;
                # NFA.isStateTimedOut at >=), as in the batch _limit
                if within_us is None:
                    return n_eval
                return bisect.bisect_left(ts, ts[i0] + within_us, i0, n_eval)

            def horizon_final(i0: int) -> bool:
                # wm >= start + h: every in-scope row is certified and no
                # later arrival (ts > wm) can be in scope; NEXT also needs
                # the last in-scope row's successors certified
                return (
                    within_us is not None
                    and wm_us >= ts[i0] + within_us
                    and bisect.bisect_left(ts, ts[i0] + within_us, i0, e)
                    + max_next <= n_cert
                )

            def emit(assign) -> None:
                members = sorted(
                    (j, v) for v, ix in assign.items() for j in ix
                )
                mn = None
                if use_mn:
                    mn = mn_counts[user] = mn_counts.get(user, 0) + 1
                vals = [user]
                _emit_measures(
                    meas, assign, arr, vals,
                    classifier=members[-1][1], match_no=mn,
                )
                out_rows.append(vals)

            # context rows (PREV lookback) are a prefix: never a start
            pos = s
            while pos < e and vm[pos] & _CTX_BIT:
                pos += 1
            while pos < n_eval:
                ms, at_frontier = match(pos, limit_for(pos), n_eval)
                if at_frontier and not horizon_final(pos):
                    break  # undecided — keep from here
                if not ms:
                    pos += 1  # can never start a match — drop
                    continue
                for assign, _end in ms:
                    emit(assign)
                if skip_next:
                    pos += 1
                elif skip_to is not None:
                    pos = _skip_target(skip_to, pos, ms[0][0])
                else:
                    pos = ms[0][1]
            # retain up to max_prev consumed rows as navigation context
            lo = max(s, pos - max_prev)
            if lo < e:
                kept.append(order[lo:e])
                kept_flags.extend([_CTX_BIT] * (pos - lo))
                kept_flags.extend([0] * (e - pos))
            if pos < e:
                # earliest decision still waited for: the kept head's
                # horizon, or simply more certified rows
                pending_ts.append(ts[pos] + (within_us or 0))

        keep = ([], [], [], [], *[[] for _ in range(n_carry)])
        if kept:
            gi = np.concatenate(kept)
            flags = np.asarray(kept_flags, dtype=np.int64)
            keep[0].extend(k_all[gi].tolist())
            keep[1].extend(ts_all[gi].tolist())
            keep[2].extend(tb_all[gi].tolist())
            keep[3].extend(((vm_all[gi] & ~_CTX_BIT) | flags).tolist())
            for i in range(n_carry):
                keep[4 + i].extend(map(b_c[i].__getitem__, gi.tolist()))
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
                        keep[4 + i2].append(_CARRY_ZERO[type_of[c2]])

        if keep[0]:
            state.update(tuple(keep))
            if pending_ts:
                # Fire at the FIRST watermark >= the pending horizon (the
                # horizon-final rule is wm >= start + h). Spark event-time
                # timeouts fire only when the watermark advances BEYOND
                # the set timestamp, so set ceil(horizon_ms) - 1.
                state.setTimeoutTimestamp(
                    max((min(pending_ts) + 999) // 1000 - 1, wm_us // 1000 + 1)
                )
            # context-only state (everything decided, nav tail retained)
            # needs no timer: it only matters when new rows arrive.
        elif state.exists:
            state.remove()
        yield pd.DataFrame(out_rows, columns=out_cols)

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
