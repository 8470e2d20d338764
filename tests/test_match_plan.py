"""The shared MATCH_RECOGNIZE matcher (match_recognize.MatchPlan), called
directly on in-memory rows — no Spark.

The batch compiler and the streaming driver run the same matchers. The
stream needs one extra answer from them: did a scan want the row at the
certified frontier? Such a decision is undecided (a preferred branch may
still succeed once that row certifies); a scan that stopped at a failing
row, or at a WITHIN cut below the frontier, is decided."""

from __future__ import annotations

import numpy as np

from apache_flink_spark.match_recognize import (
    MatchPlan,
    _parse_defines,
    _parse_pattern_tree,
    _tree_vars,
)


def _matcher(pattern, rows, enum=(), defines=None, values=None):
    """``rows`` lists, per row, the variables whose own-row DEFINE holds
    (a string of one-letter names); ``defines`` optionally adds
    cross-variable DEFINEs over the column ``v`` (``values``)."""
    tree = _parse_pattern_tree(pattern)
    variables = _tree_vars(tree)
    cross = {}
    if defines:
        _own, _nav, cross = _parse_defines(defines, variables, {"v"})
    plan = MatchPlan(tree, cross, frozenset(enum))
    sat = {v: np.array([v in r for r in rows], dtype=bool) for v in variables}
    return plan.kind, plan.matcher(sat, lambda col, j: values[j])


def test_flat_greedy_branch_at_frontier_is_undecided():
    kind, match = _matcher("A{1,3} B", ["A", "AB", "A"])
    assert kind == "flat"
    # A A A wants a B at row 3 == the frontier; A + B(row 1) matches, but
    # the longer greedy take is preferred and still open
    assert match(0, 3, 3) == ([({"A": [0], "B": [1]}, 2)], True)
    # the same scan stopped by a WITHIN cut below the frontier is final
    assert match(0, 3, 10) == ([({"A": [0], "B": [1]}, 2)], False)
    # ... and so is the one that finds its longer match
    _, match = _matcher("A{1,3} B", ["A", "AB", "A", "B"])
    assert match(0, 4, 4) == ([({"A": [0, 1, 2], "B": [3]}, 4)], False)


def test_flat_scan_stopped_by_failing_row_is_decided():
    _, match = _matcher("A{1,3} B", ["A", "A", "X", "A"])
    assert match(0, 4, 4) == ([], False)
    # a reluctant element reads a row only to try a longer take
    _, match = _matcher("A B*? C", ["A", "BC", "B"])
    assert match(0, 3, 3) == ([({"A": [0], "C": [1]}, 2)], False)


def test_binds_matcher_reports_the_frontier():
    kind, match = _matcher(
        "A{1,3} B", ["A", "AB", "A"],
        defines="B AS B.v > LAST(A.v)", values=[1, 5, 2],
    )
    assert kind == "binds"
    assert match(0, 3, 3) == ([({"A": [0], "B": [1]}, 2)], True)
    assert match(0, 3, 9) == ([({"A": [0], "B": [1]}, 2)], False)


def test_vm_greedy_branch_at_frontier_is_undecided():
    kind, match = _matcher("(A B){1,2} C", ["A", "B", "AC", "B"])
    assert kind == "vm"
    # two repetitions want C at row 4 == the frontier
    assert match(0, 4, 4) == ([({"A": [0], "B": [1], "C": [2]}, 3)], True)
    # a WITHIN cut at row 4 below the frontier decides it
    assert match(0, 4, 6) == ([({"A": [0], "B": [1], "C": [2]}, 3)], False)
    _, match = _matcher("(A B){1,2} C", ["A", "B", "AC", "B", "C"])
    assert match(0, 5, 5) == (
        [({"A": [0, 2], "B": [1, 3], "C": [4]}, 5)], False
    )


def test_vm_scan_stopped_by_failing_row_is_decided():
    _, match = _matcher("(A B)+ C", ["A", "B", "A", "B", "X"])
    assert match(0, 5, 5) == ([], False)
    _, match = _matcher("(A B)+ C", ["A", "B", "A", "B"])
    assert match(0, 4, 4) == ([], True)


def test_all_matches_vm_reports_the_frontier():
    kind, match = _matcher("A+ B", ["A", "AB"], enum={"A"})
    assert kind == "all"
    # A(0) B(1) is found, but A A B may still complete at row 2
    assert match(0, 2, 2) == ([({"A": [0], "B": [1]}, 2)], True)
    assert match(0, 2, 7) == ([({"A": [0], "B": [1]}, 2)], False)
    # every branch stopped at a failing row: all matches are final
    _, match = _matcher("A+ B", ["A", "AB", "B", "X"], enum={"A"})
    assert match(0, 4, 4) == (
        [({"A": [0, 1], "B": [2]}, 3), ({"A": [0], "B": [1]}, 2)], False
    )


def test_own_row_parts_outside_the_python_subset_run_on_the_jvm():
    """A cross-variable DEFINE whose own-row parts use SQL the Python
    evaluator lacks (a scalar function here, as a greedy() CEP guard
    produces) keeps those parts as precomputed JVM columns."""
    defines = (
        "B AS ((kind = 2)) AND ((COUNT(B.ep) > 1) "
        "OR (NOT ((pmod(B.kind, 3) = 1))))"
    )
    _own, nav, cross = _parse_defines(defines, {"A", "B"}, {"kind", "ep"})
    assert nav == {
        "__mr_own0": ("OWN", "(kind = 2)", 0),
        "__mr_own1": ("OWN", "NOT ((pmod(kind, 3) = 1))", 0),
    }
    plan = MatchPlan(_parse_pattern_tree("A+ B"), cross)
    cols = {
        "__mr_own0": [False, True, True], "__mr_own1": [False, True, False],
        "ep": [1, 2, 3],
    }
    sat = {v: np.ones(3, dtype=bool) for v in ("A", "B")}
    match = plan.matcher(sat, lambda col, j: cols[col][j])
    # row 1 satisfies B's take and its guard; row 2 fails the guard
    assert match(0, 2, 2) == ([({"A": [0], "B": [1]}, 2)], True)
    assert match(1, 3, 3) == ([], True)
