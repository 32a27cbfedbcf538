"""Catalyst expression tree → rough-check operator tree.

The reference's Spark adapter converts pushed `sources.Filter`s into
its RC algebra so every scan runs the skipping cascade
(SparkFilter.java:38-97: EqualTo/GT/GTE/LT/LTE/In/And/Or/Not, with
everything else falling through as an opaque always-scan operator).
This module is the same adapter for this engine, but one level up:
it walks a query's *optimized logical plan* (via the JVM gateway),
pairs each parquet relation with the filter conjuncts sitting on it,
and rebuilds those conjuncts as `plans.rough_check` operators the
sidecar pruner can evaluate.

Soundness stance: any expression shape this walker does not
recognize becomes `Unknown` (always SOME) — exactly the reference's
UnknownOperator contract — so pruning can only ever skip files that
provably contain no matching row. Conversion lives entirely on the
driver and costs one plan traversal; no cluster work.
"""

from __future__ import annotations

import datetime as dt
import re

from indexr_spark.plans.rough_check import (
    And,
    Between,
    Equal,
    Greater,
    GreaterEqual,
    In,
    Less,
    LessEqual,
    LikeContains,
    LikePrefix,
    NotOp,
    Or,
    RCOperator,
    Unknown,
)

_EPOCH_DATE = dt.date(1970, 1, 1)
_EPOCH_TS = dt.datetime(1970, 1, 1)
_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?")


def _scala_seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _cls(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _literal_value(jexpr):
    """Python value of a Catalyst Literal (raising on anything else).

    Catalyst internal encodings: StringType → UTF8String, DateType →
    days since epoch, Timestamp(NTZ)Type → microseconds since epoch.
    """
    if _cls(jexpr) != "Literal":
        raise ValueError(f"not a literal: {_cls(jexpr)}")
    v = jexpr.value()
    t = jexpr.dataType().typeName()
    if v is None:
        raise ValueError("null literal")
    if t == "string":
        return v.toString() if not isinstance(v, str) else v
    if t == "date":
        return _EPOCH_DATE + dt.timedelta(days=int(v))
    if t in ("timestamp", "timestamp_ntz"):
        return _EPOCH_TS + dt.timedelta(microseconds=int(v))
    if t in ("integer", "long", "short", "byte", "double", "float", "boolean"):
        return v
    raise ValueError(f"unsupported literal type {t}")


def _attr_name(jexpr) -> str:
    if _cls(jexpr) != "AttributeReference":
        # Cast-wrapped attributes change comparison semantics
        # (string→date etc.) — refuse rather than mis-prune.
        raise ValueError(f"not a bare attribute: {_cls(jexpr)}")
    return jexpr.name()


def _binary_cmp(jexpr, fwd, rev) -> RCOperator:
    """col <op> lit or lit <op> col (direction-normalized, the
    reference's switchDirection — RCOperator.java:101-106)."""
    left, right = jexpr.left(), jexpr.right()
    try:
        return fwd(_attr_name(left), _literal_value(right))
    except ValueError:
        return rev(_attr_name(right), _literal_value(left))


def from_catalyst(jexpr) -> RCOperator:
    """Convert one Catalyst Expression into an RC operator tree.
    Never raises: unrecognized shapes collapse to Unknown (SOME)."""
    try:
        return _convert(jexpr)
    except Exception:
        return Unknown()


def _convert(jexpr) -> RCOperator:
    cls = _cls(jexpr)
    if cls == "And":
        return And((from_catalyst(jexpr.left()), from_catalyst(jexpr.right())))
    if cls == "Or":
        # Or must not degrade one branch to Unknown: Or(SOME, NONE) is
        # SOME, losing nothing — but Or(Unknown-from-garbage, x) is
        # sound too. Keep both branches as converted.
        return Or((from_catalyst(jexpr.left()), from_catalyst(jexpr.right())))
    if cls == "Not":
        return NotOp(_convert(jexpr.child()))
    if cls == "EqualTo":
        return _binary_cmp(jexpr, Equal, Equal)
    if cls == "GreaterThan":
        return _binary_cmp(jexpr, Greater, Less)
    if cls == "GreaterThanOrEqual":
        return _binary_cmp(jexpr, GreaterEqual, LessEqual)
    if cls == "LessThan":
        return _binary_cmp(jexpr, Less, Greater)
    if cls == "LessThanOrEqual":
        return _binary_cmp(jexpr, LessEqual, GreaterEqual)
    if cls == "In":
        col = _attr_name(jexpr.value())
        vals = tuple(_literal_value(e) for e in _scala_seq(jexpr.list()))
        return In(col, vals)
    if cls == "InSet":
        # InSet holds raw internal values (post-threshold In); child()
        # is the attribute, hset() a Scala Set of internal values.
        col = _attr_name(jexpr.child())
        t = jexpr.child().dataType().typeName()
        it, vals = jexpr.hset().iterator(), []
        while it.hasNext():
            v = it.next()
            if t == "string":
                v = v.toString() if not isinstance(v, str) else v
            elif t == "date":
                v = _EPOCH_DATE + dt.timedelta(days=int(v))
            elif t in ("timestamp", "timestamp_ntz"):
                v = _EPOCH_TS + dt.timedelta(microseconds=int(v))
            elif t not in ("integer", "long", "short", "byte", "double", "float"):
                raise ValueError(f"unsupported InSet type {t}")
            vals.append(v)
        return In(col, tuple(vals))
    if cls == "StartsWith":
        return LikePrefix(_attr_name(jexpr.left()), _literal_value(jexpr.right()))
    if cls in ("Contains", "EndsWith"):
        # LikeSimplification rewrites %x% / %x to these; a suffix is a
        # substring, so both map to the contains rough check
        return LikeContains(_attr_name(jexpr.left()), _literal_value(jexpr.right()))
    if cls == "Between":
        return Between(
            _attr_name(jexpr.input()),
            _literal_value(jexpr.lower()),
            _literal_value(jexpr.upper()),
        )
    raise ValueError(f"unsupported expression {cls}")


def relation_filters(jplan) -> dict[tuple[str, ...], list[RCOperator]]:
    """Walk an optimized LogicalPlan; return {relation root paths:
    [one converted predicate per occurrence]}.

    A relation's key is the sorted tuple of its root paths (scheme
    stripped): one directory for a plain table scan, every live
    file or batch directory for a snapshot read. The walker does not
    know the catalog, so it reports the roots and the caller decides
    which table, if any, owns them.

    Only Filter/Project nodes may sit between a recorded filter and
    its relation (the optimizer has already pushed single-table
    predicates there); across any other node the condition set resets,
    so a predicate is never attributed below a join/aggregate that
    could change its meaning. A relation occurrence with NO filter
    contributes Unknown — the caller must then scan every file."""
    out: dict[tuple[str, ...], list[RCOperator]] = {}

    def walk(node, conds: tuple) -> None:
        cls = _cls(node)
        if cls == "Filter":
            walk(node.child(), conds + (node.condition(),))
            return
        if cls == "Project":
            # A filter may only pass through a PURE column selection.
            # If the project computes anything (e.g. `rand() AS
            # l_quantity`), a condition above it references the
            # computed value, and matching it by NAME against the
            # physical column's stats would prune unsoundly — drop
            # the accumulated conditions instead.
            try:
                exprs = _scala_seq(node.projectList())
                passthrough = all(_cls(e) == "AttributeReference" for e in exprs)
            except Exception:
                passthrough = False
            walk(node.child(), conds if passthrough else ())
            return
        if "LogicalRelation" in cls:
            roots = _relation_roots(node)
            if roots:
                ops = [from_catalyst(c) for c in conds]
                op = And(tuple(ops)) if len(ops) > 1 else (ops[0] if ops else Unknown())
                out.setdefault(roots, []).append(op)
            return
        for child in _scala_seq(node.children()):
            walk(child, ())

    walk(jplan, ())
    return out


def _relation_roots(jnode) -> tuple[str, ...] | None:
    """Sorted root paths of a HadoopFsRelation leaf (scheme and
    authority stripped), or None for non-file relations.

    One JVM call for all roots: a snapshot read has one root per live
    file or batch dir, and a py4j round trip per element would cost
    more than the rest of the walk. Hadoop's Path.toString is
    `scheme:[//authority]path`, its path part decoded exactly as
    toUri().getPath() returns it; NUL cannot occur in a path."""
    try:
        joined = jnode.relation().location().rootPaths().mkString("\0")
    except Exception:
        return None
    if not joined:
        return None
    return tuple(sorted(_SCHEME.sub("", p, count=1) for p in joined.split("\0")))
