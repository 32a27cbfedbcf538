"""Three-valued rough-check predicate algebra for file-level skipping.

Reimplements the reference's signature query feature — the RC operator
tree evaluated against min/max statistics *before* touching rows
(segment/rc/RCOperator.java:77-92, rough-set values RSValue.java:6-38)
— as a plain-Python algebra over a per-file stats sidecar. The level
mapping:

    reference                         this engine
    ---------                         -----------
    roughCheckOnColumn (segment)  →   sidecar check per parquet FILE
    roughCheckOnPack   (pack)     →   Parquet row-group stats (built-in)
    exactCheckOnRow    (bitmap)   →   Spark vectorized filter (built-in)

Values follow RSValue.java's lattice: NONE (no row can match → skip
the file), ALL (every row matches → scan without doubt), SOME
(must scan + filter). Like the reference's Spark adapter, the exact
row filter is always re-applied above the scan — the rough answer is
used only to *skip* (IndexRRecordReader.java:200-234 note, SURVEY.md
§3.2).

Algebraic rewrites carried over (RCOperator.java:101-123):
NOT pushdown via per-op `apply_not()` (Not.java / Equal.java:40-42),
OR-of-equals → IN merge (Or.java), operand-direction normalization.

At 100 TB, this layer prunes *file listings* on the driver before the
scan is planned — thousands of files skipped for a selective
predicate over sorted dims costs one sidecar read, no cluster work.
"""

from __future__ import annotations

import datetime as _dt
from bisect import bisect_left, bisect_right
from dataclasses import dataclass, field
from enum import Enum
from functools import cached_property
from typing import Any


class RS(Enum):
    """Rough-set result (RSValue.java:6-38)."""

    NONE = 0  # no row in the file can match
    SOME = 1  # unknown — must scan and filter
    ALL = 2   # every row in the file matches

    def __and__(self, other: "RS") -> "RS":
        if RS.NONE in (self, other):
            return RS.NONE
        if self is RS.ALL and other is RS.ALL:
            return RS.ALL
        return RS.SOME

    def __or__(self, other: "RS") -> "RS":
        if RS.ALL in (self, other):
            return RS.ALL
        if self is RS.NONE and other is RS.NONE:
            return RS.NONE
        return RS.SOME

    def negate(self) -> "RS":
        if self is RS.ALL:
            return RS.NONE
        if self is RS.NONE:
            return RS.ALL
        return RS.SOME


@dataclass(frozen=True)
class ColStats:
    """Per-column, per-file statistics (ColumnNode.java:12-22 parity).

    `chars` is the optional character-presence summary (the reference's
    RSIndex_CMap reduced to position-less form): the set of characters
    occurring anywhere in this column in this file. None = not built.

    `terms` is the optional exact distinct-value set from the term
    index (OuterIndex_Inverted at file grain) — for dictionary-ish
    indexed columns it answers =/IN exactly where min/max ranges
    overlap uselessly. None = not built."""

    min: Any
    max: Any
    null_count: int = 0
    chars: frozenset | None = None
    terms: frozenset | None = None


# stats for one file: column name → ColStats
FileStats = dict[str, ColStats]


class RCOperator:
    """Base predicate node (RCOperator.java:32-50)."""

    def rough(self, stats: FileStats) -> RS:
        raise NotImplementedError

    def apply_not(self) -> "RCOperator":
        """Return the negated operator (NOT pushdown support)."""
        raise NotImplementedError

    def optimize(self) -> "RCOperator":
        """Flatten/merge rewrites; NOT is pushed to the leaves
        (optimize contract, RCOperator.java:117-123)."""
        return self

    def to_spark_sql(self) -> str:
        """Render as a Spark SQL boolean expression (the exact filter
        re-applied above the pruned scan)."""
        raise NotImplementedError


def _lit(v: Any) -> str:
    if isinstance(v, str):
        escaped = v.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


def _stats(stats: FileStats, col: str) -> ColStats | None:
    s = stats.get(col)
    if s is None or s.min is None or s.max is None:
        return None  # no stats → must scan
    return s


@dataclass(frozen=True)
class Equal(RCOperator):
    col: str
    value: Any

    def rough(self, stats: FileStats) -> RS:
        s = _stats(stats, self.col)
        if s is None:
            return RS.SOME
        if self.value < s.min or self.value > s.max:
            return RS.NONE
        if s.terms is not None and self.value not in s.terms:
            return RS.NONE  # exact: the term index lists every value
        if s.min == s.max == self.value and s.null_count == 0:
            return RS.ALL
        return RS.SOME

    def apply_not(self) -> RCOperator:
        return NotEqual(self.col, self.value)

    def to_spark_sql(self) -> str:
        return f"({self.col} = {_lit(self.value)})"


@dataclass(frozen=True)
class NotEqual(RCOperator):
    col: str
    value: Any

    def rough(self, stats: FileStats) -> RS:
        return Equal(self.col, self.value).rough(stats).negate()

    def apply_not(self) -> RCOperator:
        return Equal(self.col, self.value)

    def to_spark_sql(self) -> str:
        return f"({self.col} != {_lit(self.value)})"


@dataclass(frozen=True)
class Greater(RCOperator):
    col: str
    value: Any

    def rough(self, stats: FileStats) -> RS:
        s = _stats(stats, self.col)
        if s is None:
            return RS.SOME
        if s.max <= self.value:
            return RS.NONE
        if s.min > self.value and s.null_count == 0:
            return RS.ALL
        return RS.SOME

    def apply_not(self) -> RCOperator:
        return LessEqual(self.col, self.value)

    def to_spark_sql(self) -> str:
        return f"({self.col} > {_lit(self.value)})"


@dataclass(frozen=True)
class GreaterEqual(RCOperator):
    col: str
    value: Any

    def rough(self, stats: FileStats) -> RS:
        s = _stats(stats, self.col)
        if s is None:
            return RS.SOME
        if s.max < self.value:
            return RS.NONE
        if s.min >= self.value and s.null_count == 0:
            return RS.ALL
        return RS.SOME

    def apply_not(self) -> RCOperator:
        return Less(self.col, self.value)

    def to_spark_sql(self) -> str:
        return f"({self.col} >= {_lit(self.value)})"


@dataclass(frozen=True)
class Less(RCOperator):
    col: str
    value: Any

    def rough(self, stats: FileStats) -> RS:
        return GreaterEqual(self.col, self.value).rough(stats).negate()

    def apply_not(self) -> RCOperator:
        return GreaterEqual(self.col, self.value)

    def to_spark_sql(self) -> str:
        return f"({self.col} < {_lit(self.value)})"


@dataclass(frozen=True)
class LessEqual(RCOperator):
    col: str
    value: Any

    def rough(self, stats: FileStats) -> RS:
        return Greater(self.col, self.value).rough(stats).negate()

    def apply_not(self) -> RCOperator:
        return Greater(self.col, self.value)

    def to_spark_sql(self) -> str:
        return f"({self.col} <= {_lit(self.value)})"


@dataclass(frozen=True)
class Between(RCOperator):
    """Inclusive range (rc/Between.java:130 semantics)."""

    col: str
    lo: Any
    hi: Any

    def rough(self, stats: FileStats) -> RS:
        s = _stats(stats, self.col)
        if s is None:
            return RS.SOME
        if s.max < self.lo or s.min > self.hi:
            return RS.NONE
        if self.lo <= s.min and s.max <= self.hi and s.null_count == 0:
            return RS.ALL
        return RS.SOME

    def apply_not(self) -> RCOperator:
        return Or((Less(self.col, self.lo), Greater(self.col, self.hi)))

    def to_spark_sql(self) -> str:
        return f"({self.col} BETWEEN {_lit(self.lo)} AND {_lit(self.hi)})"


@dataclass(frozen=True)
class In(RCOperator):
    col: str
    values: tuple[Any, ...]

    @cached_property
    def _sorted(self) -> list:
        """The values in order, for a binary search per file instead of
        a scan. NaN is dropped: it never lies within a file's
        [min, max]. Values without a total order raise TypeError here
        or in the search, which prune() reads as SOME."""
        return sorted(v for v in self.values if v == v)

    def rough(self, stats: FileStats) -> RS:
        s = _stats(stats, self.col)
        if s is None:
            return RS.SOME
        vals = self._sorted
        inside = vals[bisect_left(vals, s.min) : bisect_right(vals, s.max)]
        if not inside:
            return RS.NONE
        if s.terms is not None and s.terms.isdisjoint(inside):
            return RS.NONE
        if s.min == s.max and s.min in inside and s.null_count == 0:
            return RS.ALL
        return RS.SOME

    def apply_not(self) -> RCOperator:
        return NotIn(self.col, self.values)

    def to_spark_sql(self) -> str:
        vals = ", ".join(_lit(v) for v in self.values)
        return f"({self.col} IN ({vals}))"


@dataclass(frozen=True)
class NotIn(RCOperator):
    col: str
    values: tuple[Any, ...]

    @cached_property
    def _in(self) -> In:
        return In(self.col, self.values)

    def rough(self, stats: FileStats) -> RS:
        return self._in.rough(stats).negate()

    def apply_not(self) -> RCOperator:
        return In(self.col, self.values)

    def to_spark_sql(self) -> str:
        vals = ", ".join(_lit(v) for v in self.values)
        return f"({self.col} NOT IN ({vals}))"


@dataclass(frozen=True)
class LikePrefix(RCOperator):
    """LIKE 'prefix%' — the only LIKE shape with a useful min/max
    rough answer (the reference's CMap index covers general LIKE;
    Parquet dictionaries handle that level for us — SURVEY.md §2.3)."""

    col: str
    prefix: str

    def rough(self, stats: FileStats) -> RS:
        s = _stats(stats, self.col)
        if s is None:
            return RS.SOME
        # Prefix-aware bounds (Iceberg-style startsWith logic). A
        # synthetic upper bound like prefix+'￿' is UNSOUND: code
        # points above U+FFFF (emoji etc.) sort past it, so a file of
        # prefix-matching values could be skipped. Instead: every
        # match is >= prefix, so max < prefix proves NONE; and if min
        # sorts after prefix without extending it, min's first
        # divergence beats prefix at some position < len(prefix),
        # hence every value >= min also diverges there — NONE.
        smin, smax = str(s.min), str(s.max)
        if smax < self.prefix or (
            smin > self.prefix and not smin.startswith(self.prefix)
        ):
            return RS.NONE
        # char-presence refinement: a prefix-matching value contains
        # every prefix character, so a missing one proves NONE
        if s.chars is not None and any(ch not in s.chars for ch in self.prefix):
            return RS.NONE
        if (
            str(s.min).startswith(self.prefix)
            and str(s.max).startswith(self.prefix)
            and s.null_count == 0
        ):
            return RS.ALL
        return RS.SOME

    def apply_not(self) -> RCOperator:
        # no negated-prefix leaf exists; signal the caller to keep a
        # NotOp wrapper (returning NotOp(self) here would make
        # NotOp.optimize() recurse forever)
        raise NotImplementedError

    def to_spark_sql(self) -> str:
        escaped = self.prefix.replace("'", "''").replace("%", r"\%").replace("_", r"\_")
        return f"({self.col} LIKE '{escaped}%')"


@dataclass(frozen=True)
class LikeContains(RCOperator):
    """LIKE '%needle%' — the general-substring shape the reference's
    CMap index answers roughly (rc/Like.java:93, RSIndex_CMap.isLike).
    Min/max cannot help here; the character-presence summary can: a
    value containing `needle` must contain every character of it, so
    any needle character absent from the file proves NONE. Also covers
    LIKE '%suffix' (a suffix is a substring). Never claims ALL."""

    col: str
    needle: str

    def rough(self, stats: FileStats) -> RS:
        s = stats.get(self.col)
        if s is None or s.chars is None or not self.needle:
            return RS.SOME
        if any(ch not in s.chars for ch in self.needle):
            return RS.NONE
        return RS.SOME

    def apply_not(self) -> RCOperator:
        raise NotImplementedError  # keep the NotOp wrapper (cf. LikePrefix)

    def to_spark_sql(self) -> str:
        escaped = self.needle.replace("'", "''").replace("%", r"\%").replace("_", r"\_")
        return f"({self.col} LIKE '%{escaped}%')"


@dataclass(frozen=True)
class Unknown(RCOperator):
    """Opaque residue of a non-convertible predicate — always SOME
    (rc/UnknownOperator.java:78: anything the pushdown layer can't
    express must scan; And(SOME, x) still lets siblings prune)."""

    def rough(self, stats: FileStats) -> RS:
        return RS.SOME

    def apply_not(self) -> RCOperator:
        return Unknown()

    def to_spark_sql(self) -> str:
        return "true"  # caller re-applies the exact original predicate


@dataclass(frozen=True)
class And(RCOperator):
    children: tuple[RCOperator, ...]

    def rough(self, stats: FileStats) -> RS:
        out = RS.ALL
        for c in self.children:
            try:
                rs = c.rough(stats)
            except TypeError:
                # stats and literal types don't compare: this conjunct
                # can't prune, a sibling still may
                rs = RS.SOME
            out = out & rs
            if out is RS.NONE:
                return RS.NONE  # short-circuit (And.java early-out)
        return out

    def apply_not(self) -> RCOperator:
        return Or(tuple(c.apply_not() for c in self.children))

    def optimize(self) -> RCOperator:
        flat: list[RCOperator] = []
        for c in self.children:
            c = c.optimize()
            flat.extend(c.children if isinstance(c, And) else (c,))
        return flat[0] if len(flat) == 1 else And(tuple(flat))

    def to_spark_sql(self) -> str:
        return "(" + " AND ".join(c.to_spark_sql() for c in self.children) + ")"


@dataclass(frozen=True)
class Or(RCOperator):
    children: tuple[RCOperator, ...]

    def rough(self, stats: FileStats) -> RS:
        out = RS.NONE
        for c in self.children:
            out = out | c.rough(stats)
            if out is RS.ALL:
                return RS.ALL
        return out

    def apply_not(self) -> RCOperator:
        return And(tuple(c.apply_not() for c in self.children))

    def optimize(self) -> RCOperator:
        """Flatten; merge `a=1 OR a=2` → `a IN (1,2)` (Or.java merge,
        RCOperator.java:109-113 doOptimize contract)."""
        flat: list[RCOperator] = []
        for c in self.children:
            c = c.optimize()
            flat.extend(c.children if isinstance(c, Or) else (c,))
        eq_by_col: dict[str, list[Any]] = {}
        rest: list[RCOperator] = []
        for c in flat:
            if isinstance(c, Equal):
                eq_by_col.setdefault(c.col, []).append(c.value)
            elif isinstance(c, In):
                eq_by_col.setdefault(c.col, []).extend(c.values)
            else:
                rest.append(c)
        for col, vals in eq_by_col.items():
            uniq = tuple(dict.fromkeys(vals))
            rest.append(Equal(col, uniq[0]) if len(uniq) == 1 else In(col, uniq))
        return rest[0] if len(rest) == 1 else Or(tuple(rest))

    def to_spark_sql(self) -> str:
        return "(" + " OR ".join(c.to_spark_sql() for c in self.children) + ")"


@dataclass(frozen=True)
class NotOp(RCOperator):
    """NOT wrapper — `optimize()` pushes it into the leaves via
    apply_not (Not.java; RCOperator.java:117-123:
    doOptimize().applyNot() round trip)."""

    child: RCOperator

    def rough(self, stats: FileStats) -> RS:
        return self.child.rough(stats).negate()

    def apply_not(self) -> RCOperator:
        return self.child

    def optimize(self) -> RCOperator:
        child = self.child.optimize()
        try:
            pushed = child.apply_not()
        except NotImplementedError:
            # child (or a descendant) has no negated form — keep the
            # NOT wrapper over the optimized child
            return NotOp(child)
        return pushed.optimize()

    def to_spark_sql(self) -> str:
        return f"(NOT {self.child.to_spark_sql()})"


@dataclass
class PruneResult:
    """Outcome of file-level rough checking."""

    scan: list[str] = field(default_factory=list)       # SOME or ALL
    skipped: list[str] = field(default_factory=list)    # NONE
    all_match: list[str] = field(default_factory=list)  # subset of scan

    @property
    def n_total(self) -> int:
        return len(self.scan) + len(self.skipped)


def prune(files_stats: dict[str, FileStats], op: RCOperator) -> PruneResult:
    """Evaluate the (optimized) predicate tree against every file's
    stats; returns the files to scan and the files proven empty."""
    op = op.optimize()
    out = PruneResult()
    for path, stats in files_stats.items():
        try:
            rs = op.rough(stats)
        except Exception:
            # incomparable stats/literal types (schema drift, exotic
            # defaults) — never let pruning break a query: scan it
            rs = RS.SOME
        if rs is RS.NONE:
            out.skipped.append(path)
        else:
            out.scan.append(path)
            if rs is RS.ALL:
                out.all_match.append(path)
    return out
