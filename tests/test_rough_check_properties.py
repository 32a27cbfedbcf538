"""Property-based soundness tests for the rough-check algebra.

The reference's contract for its rough indexes is "no false
negatives" (RSIndexTest.java: an index may say Some when the truth is
None, but never None when rows match — SURVEY.md §5). Hypothesis
generates random file contents and random predicate trees and checks,
for every file:

  rough == NONE  ⇒  no row in the file satisfies the predicate
  rough == ALL   ⇒  every row in the file satisfies it

entirely in Python (stats folded from the generated rows), so the
property runs thousands of cases without a SparkSession.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from indexr_spark.plans.rough_check import (
    RS,
    And,
    Between,
    ColStats,
    Equal,
    Greater,
    GreaterEqual,
    In,
    Less,
    LessEqual,
    LikeContains,
    LikePrefix,
    NotEqual,
    NotIn,
    NotOp,
    Or,
    RCOperator,
)

values = st.integers(min_value=-50, max_value=50)
# alphabet includes a supplementary-plane char: LIKE-prefix bounds must
# stay sound past U+FFFF (the round-1 advisory repro)
strings = st.text(alphabet="abc\U0001F600", min_size=0, max_size=4)


def leaf_ops(val_strategy, col: str):
    return st.one_of(
        st.builds(Equal, st.just(col), val_strategy),
        st.builds(NotEqual, st.just(col), val_strategy),
        st.builds(Greater, st.just(col), val_strategy),
        st.builds(GreaterEqual, st.just(col), val_strategy),
        st.builds(Less, st.just(col), val_strategy),
        st.builds(LessEqual, st.just(col), val_strategy),
        st.builds(
            Between,
            st.just(col),
            val_strategy,
            val_strategy,
        ),
        # 0-64 unsorted values with duplicates: In's binary search
        # over its sorted copy must agree with row-level truth
        st.builds(
            In,
            st.just(col),
            st.lists(val_strategy, max_size=64).map(tuple),
        ),
    )


def predicate_trees(val_strategy, col: str):
    return st.recursive(
        leaf_ops(val_strategy, col),
        lambda children: st.one_of(
            st.builds(And, st.tuples(children, children)),
            st.builds(Or, st.tuples(children, children)),
            st.builds(NotOp, children),
        ),
        max_leaves=6,
    )


def evaluate(op: RCOperator, row: dict) -> bool:
    """Ground-truth row-level evaluation of the predicate tree."""
    if isinstance(op, Equal):
        return row[op.col] == op.value
    if isinstance(op, NotEqual):
        return row[op.col] != op.value
    if isinstance(op, Greater):
        return row[op.col] > op.value
    if isinstance(op, GreaterEqual):
        return row[op.col] >= op.value
    if isinstance(op, Less):
        return row[op.col] < op.value
    if isinstance(op, LessEqual):
        return row[op.col] <= op.value
    if isinstance(op, Between):
        return op.lo <= row[op.col] <= op.hi
    if isinstance(op, In):
        return row[op.col] in op.values
    if isinstance(op, NotIn):
        return row[op.col] not in op.values
    if isinstance(op, LikePrefix):
        return str(row[op.col]).startswith(op.prefix)
    if isinstance(op, LikeContains):
        return op.needle in str(row[op.col])
    if isinstance(op, And):
        return all(evaluate(c, row) for c in op.children)
    if isinstance(op, Or):
        return any(evaluate(c, row) for c in op.children)
    if isinstance(op, NotOp):
        return not evaluate(op.child, row)
    raise TypeError(op)


def check_soundness(rows: list, op: RCOperator, with_terms: bool = False) -> None:
    """`with_terms` adds the file's exact distinct-value set, as the
    term index supplies it, so the =/IN term paths are checked too."""
    chars = (
        frozenset("".join(rows)) if all(isinstance(r, str) for r in rows) else None
    )
    terms = frozenset(rows) if with_terms else None
    stats = {"a": ColStats(min(rows), max(rows), chars=chars, terms=terms)}
    truth = [evaluate(op, {"a": v}) for v in rows]
    for tree in (op, op.optimize()):
        rough = tree.rough(stats)
        if rough is RS.NONE:
            assert not any(truth), (tree, rows)
        elif rough is RS.ALL:
            assert all(truth), (tree, rows)


@settings(max_examples=2000, deadline=None)
@given(
    rows=st.lists(values, min_size=1, max_size=8),
    op=predicate_trees(values, "a"),
    with_terms=st.booleans(),
)
def test_no_false_skips_numeric(rows, op, with_terms):
    check_soundness(rows, op, with_terms)


@settings(max_examples=1000, deadline=None)
@given(
    rows=st.lists(strings, min_size=1, max_size=8),
    op=st.one_of(
        leaf_ops(strings, "a"),
        st.builds(LikePrefix, st.just("a"), strings),
        st.builds(LikeContains, st.just("a"), strings),
        st.builds(NotOp, st.builds(LikePrefix, st.just("a"), strings)),
        st.builds(NotOp, st.builds(LikeContains, st.just("a"), strings)),
    ),
    with_terms=st.booleans(),
)
def test_no_false_skips_strings(rows, op, with_terms):
    check_soundness(rows, op, with_terms)


@settings(max_examples=1000, deadline=None)
@given(rows=st.lists(values, min_size=1, max_size=8), op=predicate_trees(values, "a"))
def test_optimize_preserves_row_semantics(rows, op):
    """optimize() (NOT pushdown, OR→IN merge, flattening) must not
    change row-level truth — the reference's RCTest contract."""
    opt = op.optimize()
    for v in rows:
        assert evaluate(op, {"a": v}) == evaluate(opt, {"a": v}), (op, opt, v)


def test_incomparable_conjunct_leaves_siblings_pruning():
    """A conjunct whose literal and stats types don't compare (a binary
    key against str stats, an IN list of mixed types) is SOME for the
    file; a sibling conjunct can still prove the file empty, and
    alone it is scanned, never dropped."""
    from indexr_spark.plans.rough_check import prune

    stats = {
        "f": {
            "b": ColStats("x0", "x9"),
            "k": ColStats(0, 9),
        }
    }
    for odd in (Between("b", b"x3", b"x3"), In("b", (1, "x3")), In("k", (3, "3"))):
        assert prune(stats, odd).scan == ["f"]
        assert prune(stats, And((odd, Equal("k", 50)))).skipped == ["f"]
        assert prune(stats, And((odd, Equal("k", 3)))).scan == ["f"]
    # NaN never lies within [min, max]; the other values still decide
    assert In("k", (float("nan"), 3)).rough(stats["f"]) is RS.SOME
    assert In("k", (float("nan"), 50)).rough(stats["f"]) is RS.NONE
