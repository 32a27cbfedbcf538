"""Segment writer + stats sidecar + rough-check pruning tests.

Validates the M2/M3 invariants: dim-sorted segments produce tight
per-file min/max; the pruner skips files a predicate can't match
(counted!) while the pruned result stays byte-equal to a full scan;
rollup-on-write merges dim-duplicate rows with the declared agg.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from indexr_spark.plans.rough_check import (
    RS,
    And,
    Between,
    ColStats,
    Equal,
    Greater,
    In,
    LessEqual,
    LikePrefix,
    NotOp,
    Or,
    prune,
)
from indexr_spark.sources.catalog import AggSchema, Metric
from indexr_spark.sources.segments import (
    load_sidecar,
    read_pruned,
    write_segments,
)
from tests.conftest import SMOKE_SF


@pytest.fixture(scope="module")
def lineitem_segments(spark, tmp_path_factory):
    """lineitem written as 8 shipdate-sorted segments + sidecar."""
    out = str(tmp_path_factory.mktemp("seg") / "lineitem")
    df = spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet")
    write_segments(
        df,
        out,
        sort_by=["l_shipdate"],
        bloom_cols=["l_returnflag"],
        num_segments=8,
    )
    return out


def test_sidecar_written_and_typed(lineitem_segments):
    stats = load_sidecar(lineitem_segments)
    assert len(stats) == 8
    for fstats in stats.values():
        s = fstats["l_shipdate"]
        assert isinstance(s.min, dt.datetime)
        assert s.min <= s.max
        assert fstats["l_quantity"].min >= 1.0


def test_sorted_segments_are_disjoint(lineitem_segments):
    """Range partitioning on the sort dim must produce (nearly)
    non-overlapping per-file ranges — that's what makes min/max
    skipping effective (SortedSegmentGenerator's whole point)."""
    stats = load_sidecar(lineitem_segments)
    ranges = sorted((s["l_shipdate"].min, s["l_shipdate"].max) for s in stats.values())
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "segment shipdate ranges overlap"


def test_prune_skips_files_and_matches_full_scan(spark, lineitem_segments):
    pred = Between(
        "l_shipdate", dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31)
    )
    df, decision = read_pruned(spark, lineitem_segments, pred)
    assert decision.skipped, "expected at least one file skipped"
    assert len(decision.scan) < decision.n_total

    full = (
        spark.read.parquet(lineitem_segments)
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
    )
    assert df.count() == full.count()
    got = {tuple(r) for r in df.collect()}
    want = {tuple(r) for r in full.collect()}
    assert got == want


def test_prune_none_selects_nothing(spark, lineitem_segments):
    pred = Greater("l_shipdate", dt.datetime(2005, 1, 1))
    df, decision = read_pruned(spark, lineitem_segments, pred)
    assert not decision.scan
    assert df.count() == 0


def test_prune_all_shortcircuit(lineitem_segments):
    """A predicate satisfied by every row of a file must mark it ALL —
    the reference's skip-the-row-bitmap fast path
    (IndexRRecordReader.java:129-154)."""
    stats = load_sidecar(lineitem_segments)
    result = prune(stats, Greater("l_quantity", 0.0))
    assert len(result.all_match) == len(result.scan) == len(stats)


def test_rollup_on_write(spark, tmp_path):
    out = str(tmp_path / "rolled")
    ev = spark.createDataFrame(
        [
            ("a", 1, 10.0, 1),
            ("a", 1, 5.0, 2),
            ("b", 1, 7.0, 3),
        ],
        "dim string, day int, v double, seq int",
    )
    agg = AggSchema(
        grouping=True,
        dims=["dim", "day"],
        metrics=[Metric("v", "sum"), Metric("seq", "first")],
    )
    write_segments(ev, out, agg=agg, order_col="seq")
    rows = {
        tuple(r)
        for r in spark.read.parquet(out).select("dim", "day", "v", "seq").collect()
    }
    assert rows == {("a", 1, 15.0, 1), ("b", 1, 7.0, 3)}


# ---------------------------------------------------------------------------
# rough-check algebra unit tests (rc/RCTest.java parity + three-valued laws)
# ---------------------------------------------------------------------------

STATS = {"a": ColStats(10, 20), "s": ColStats("apple", "mango")}


@pytest.mark.parametrize(
    "op,expected",
    [
        (Equal("a", 5), RS.NONE),
        (Equal("a", 15), RS.SOME),
        (Greater("a", 20), RS.NONE),
        (Greater("a", 9), RS.ALL),
        (LessEqual("a", 9), RS.NONE),
        (Between("a", 10, 20), RS.ALL),
        (Between("a", 21, 30), RS.NONE),
        (In("a", (1, 2, 3)), RS.NONE),
        (In("a", (1, 15)), RS.SOME),
        (LikePrefix("s", "zebra"), RS.NONE),
        (LikePrefix("s", "b"), RS.SOME),
        (And((Greater("a", 9), Equal("a", 5))), RS.NONE),
        (Or((Equal("a", 5), Greater("a", 9))), RS.ALL),
        (NotOp(Between("a", 10, 20)), RS.NONE),
    ],
)
def test_rough_values(op, expected):
    assert op.rough(STATS) is expected


def test_not_pushdown_optimize():
    """NOT(a=1 OR a=2) optimizes through the In-merge to a NOT IN —
    the same fixed point the reference reaches via
    doOptimize().applyNot() (RCOperator.java:117-123, RCTest.java)."""
    from indexr_spark.plans.rough_check import NotIn

    op = NotOp(Or((Equal("a", 1), Equal("a", 2)))).optimize()
    assert op == NotIn("a", (1, 2))
    # and the rough semantics agree with the unoptimized tree
    stats = {"a": ColStats(1, 1)}
    assert op.rough(stats) is RS.NONE
    assert NotOp(Or((Equal("a", 1), Equal("a", 2)))).rough(stats) is RS.NONE


def test_or_of_equals_becomes_in():
    """a=1 OR a=2 OR a=3 → a IN (1,2,3) (Or.java merge)."""
    op = Or((Equal("a", 1), Equal("a", 2), Equal("a", 3))).optimize()
    assert op == In("a", (1, 2, 3))


def test_bloom_filter_written(spark, tmp_path):
    """Index-flagged columns get Parquet Bloom filters (the CMap /
    inverted-outer-index replacement). Neither pyarrow 1x nor DuckDB
    1.0 introspects bloom offsets, so observe the artifact directly:
    the bloom-filtered file must be measurably larger."""
    import glob
    import os

    # High-cardinality column: parquet-mr emits blooms only where
    # dictionary encoding gives up (dictionary is the better index at
    # low cardinality — same per-column index choice the reference
    # makes in VersionAdapter_Basic).
    df = spark.range(100_000).select(
        F.md5(F.col("id").cast("string")).alias("s")
    )
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloom")
    write_segments(df, plain, num_segments=1)
    write_segments(df, bloomed, num_segments=1, bloom_cols=["s"])

    size = lambda d: sum(
        os.path.getsize(f) for f in glob.glob(f"{d}/*.parquet")
    )
    assert size(bloomed) > size(plain) + 1024, (
        "bloom option produced no extra index bytes — option not applied?"
    )


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-ordered segments skip files on EITHER z column; a single-key
    sorted layout only skips on its leading key. Same rows either way."""
    df = spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet")
    zdir = str(tmp_path / "z")
    sdir = str(tmp_path / "s")
    write_segments(df, zdir, zorder_by=["l_orderkey", "l_partkey"], num_segments=16)
    write_segments(df, sdir, sort_by=["l_orderkey"], num_segments=16)

    lo, hi = 1, 20  # narrow l_partkey band
    pred = Between("l_partkey", lo, hi)
    zdf, zdec = read_pruned(spark, zdir, pred)
    _, sdec = read_pruned(spark, sdir, pred)

    assert zdec.skipped, "z-order must skip files on the second column"
    # the leading-key-sorted layout scatters l_partkey → no skipping
    assert len(sdec.scan) == sdec.n_total
    # and z-order still skips on the *first* column too
    _, zdec1 = read_pruned(spark, zdir, Between("l_orderkey", 1, 100))
    assert zdec1.skipped

    full = df.filter(F.col("l_partkey").between(lo, hi))
    assert {tuple(r) for r in zdf.collect()} == {tuple(r) for r in full.collect()}


def test_term_index_prunes_files(spark, tmp_path):
    """OuterIndex_Inverted parity: the term→file index admits only the
    files actually containing a term; pruned scan == full-scan filter.
    String min/max can't narrow p_brand (every file spans the whole
    alphabet range), so the inverted index is what makes string
    equality prune at all."""
    import glob
    import os

    from indexr_spark.sources.segments import build_string_indexes, read_term_pruned

    df = spark.read.parquet(f"{SMOKE_SF}/part.parquet")
    out = str(tmp_path / "parts")
    # sort by brand so each segment holds few brands → pruning possible
    write_segments(df, out, sort_by=["p_brand"], num_segments=8)
    n_postings = build_string_indexes(spark, out, ["p_brand"])["p_brand"]
    assert n_postings > 0

    all_files = glob.glob(os.path.join(out, "*.parquet"))
    got, files = read_term_pruned(spark, out, "p_brand", ["Brand#21"])
    assert 0 < len(files) < len(all_files), (len(files), len(all_files))

    full = df.filter(F.col("p_brand") == "Brand#21")
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in full.collect()}

    # a term that doesn't exist prunes everything
    empty, files0 = read_term_pruned(spark, out, "p_brand", ["Brand#nope"])
    assert files0 == [] and empty.count() == 0


def test_cmap_contains_pruning(spark, tmp_path):
    """RSIndex_CMap parity (position-less): a %needle% predicate skips
    files whose character summary lacks a needle character, with the
    pruned scan equal to the full scan (rc/Like.java:93 semantics)."""
    from indexr_spark.plans.rough_check import LikeContains, NotOp
    from indexr_spark.sources.segments import build_string_indexes

    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "zulu"), (5, "zebra")],
        "k int, s string",
    )
    # sort by s: files [alpha..beta], [gamma..zebra/zulu]
    write_segments(df, out, sort_by=["s"], num_segments=2)
    build_string_indexes(spark, out, ["s"])

    stats = load_sidecar(out)
    assert all(fs["s"].chars for fs in stats.values())

    # 'z' appears only in the second file
    pruned_df, res = read_pruned(spark, out, LikeContains("s", "z"))
    assert len(res.skipped) == 1 and len(res.scan) == 1
    assert {r.s for r in pruned_df.collect()} == {"zulu", "zebra"}

    # NOT wrapper stays sound (no negated leaf → wrapper kept → SOME)
    _, res2 = read_pruned(spark, out, NotOp(LikeContains("s", "z")))
    assert not res2.skipped


def test_cmap_pruning_through_catalog_sql(spark, tmp_path):
    """catalog.sql prunes contains-LIKE through the cmap summary —
    the general-LIKE rough answer on the default query path."""
    from indexr_spark.sources.catalog import Catalog, ColumnSpec, TableSpec
    from indexr_spark.sources.segments import build_string_indexes

    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(
            name="t",
            columns=[ColumnSpec("k", "int"), ColumnSpec("s", "varchar", index=True)],
            sort_by=["s"],
        )
    )
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "zulu"), (5, "zebra")],
        "k int, s string",
    )
    write_segments(df, cat.table_dir("t"), sort_by=["s"], num_segments=2)
    build_string_indexes(spark, cat.table_dir("t"), ["s"])

    q = "SELECT k, s FROM t WHERE s LIKE '%z%' ORDER BY k"
    got = cat.sql(spark, q)
    assert cat.last_prune["t"].skipped
    assert [(r.k, r.s) for r in got.collect()] == [(4, "zulu"), (5, "zebra")]


def test_term_index_prunes_through_default_path(spark, tmp_path):
    """The term index joins the default pruning cascade: an = predicate
    on a dictionary-ish column skips files whose min/max range covers
    the value but whose exact term set lacks it — the reference's
    outer-index exactCheck inside the rough cascade."""
    from indexr_spark.plans.rough_check import Equal
    from indexr_spark.sources.catalog import Catalog, ColumnSpec, TableSpec

    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(
            name="t",
            columns=[ColumnSpec("k", "int"), ColumnSpec("s", "varchar", index=True)],
        )
    )
    # both files span a..z in min/max, but 'mango' lives only in one
    f1 = spark.createDataFrame([(1, "apple"), (2, "zebra")], "k int, s string")
    f2 = spark.createDataFrame([(3, "ant"), (4, "mango"), (5, "zoo")], "k int, s string")
    path = cat.table_dir("t")
    write_segments(f1, path, num_segments=1)
    write_segments(f2, path, num_segments=1, mode="append")
    assert len(load_sidecar(path)) == 2
    cat.build_indexes(spark, "t")

    stats = load_sidecar(path)
    assert all(fs["s"].terms for fs in stats.values())

    _, res = read_pruned(spark, path, Equal("s", "mango"))
    assert len(res.skipped) == 1 and len(res.scan) == 1

    out = cat.sql(spark, "SELECT k FROM t WHERE s = 'mango'")
    assert cat.last_prune["t"].skipped
    assert [r.k for r in out.collect()] == [4]

    # a value in no file prunes everything
    out2 = cat.sql(spark, "SELECT k FROM t WHERE s = 'durian'")
    assert not cat.last_prune["t"].scan
    assert out2.count() == 0
