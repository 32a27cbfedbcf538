"""ORC format, partitioned layout, alltypes boundary round-trip.

- ORC: second columnar format (BASELINE.json names Parquet/ORC);
  sidecar built by the distributed stats pass, pruning works the same.
- Partitioned layout: Rt2HisOnHive parity — hive-style partition dirs
  with Spark-native partition pruning (PartitionFilters in the plan).
- alltypes: the reference's canonical segment round-trip fixture
  (FIXTURES.md F1 / TestRows.java:19-56): every SQL type with
  boundary values, cycled past one row-group so stats fold across
  row groups.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from indexr_spark.plans.rough_check import Between, Equal, Greater
from indexr_spark.sources.segments import load_sidecar, read_pruned, write_segments
from indexr_spark.sources.tools import describe_segments
from tests.conftest import SMOKE_SF


def test_orc_write_prune_roundtrip(spark, tmp_path):
    out = str(tmp_path / "orc_seg")
    df = spark.read.parquet(f"{SMOKE_SF}/orders.parquet")
    write_segments(
        df, out, sort_by=["o_orderdate"], num_segments=4, file_format="orc"
    )
    stats = load_sidecar(out)[0]
    assert len(stats) == 4
    pred = Between(
        "o_orderdate", dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31)
    )
    pruned, decision = read_pruned(spark, out, pred)
    assert decision.skipped
    full = df.filter(F.col("o_orderdate").between("1996-01-01", "1996-12-31"))
    assert pruned.count() == full.count()
    assert {tuple(r) for r in pruned.collect()} == {tuple(r) for r in full.collect()}


def test_partitioned_layout_and_pruning(spark, tmp_path):
    out = str(tmp_path / "part_seg")
    df = spark.read.parquet(f"{SMOKE_SF}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_segments(df, out, sort_by=["o_orderdate"], partition_by=["order_year"])
    q = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    plan = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(order_year" in plan
    want = df.filter(F.col("order_year") == 1997).count()
    assert q.count() == want


ALLTYPES = T.StructType(
    [
        T.StructField("c0", T.IntegerType()),
        T.StructField("c1", T.LongType()),
        T.StructField("c2", T.FloatType()),
        T.StructField("c3", T.DoubleType()),
        T.StructField("c4", T.StringType()),
        T.StructField("c5", T.DateType()),
        T.StructField("c6", T.IntegerType()),  # TIME → ms-of-day
        T.StructField("c7", T.TimestampNTZType()),
    ]
)

BOUNDARY_ROWS = [
    (0, 0, 0.0, 0.0, "", dt.date(1901, 3, 24), 0, dt.datetime(1901, 3, 24, 0, 0, 1)),
    (
        2147483647,
        9223372036854775807,
        1.4e-45,  # Float.MIN_VALUE
        1.7976931348623157e308,
        "windows",
        dt.date(9999, 1, 1),
        86399999,
        dt.datetime(2741, 1, 3, 23, 59, 59),
    ),
    (-2147483648, -9223372036854775808, -3.4028235e38, -1.79e308, "mac", dt.date(1970, 1, 1), 1, dt.datetime(1970, 1, 1)),
    (42, 7, 1.5, 2.5, "linux", dt.date(2024, 6, 1), 43200000, dt.datetime(2024, 6, 1, 12)),
]


def test_alltypes_boundary_roundtrip(spark, tmp_path):
    """TestRows.java parity: 4 boundary rows cycled to 70,000 rows
    (crosses a row-group boundary at small row-group size), written
    sorted, stats folded, read back bit-identical."""
    out = str(tmp_path / "alltypes")
    rows = [BOUNDARY_ROWS[i % 4] for i in range(70_000)]
    df = spark.createDataFrame(rows, ALLTYPES)
    write_segments(
        df, out, sort_by=["c0"], num_segments=2, row_group_bytes=1 << 16
    )
    back = spark.read.parquet(out)
    assert back.count() == 70_000
    got = {tuple(r) for r in back.distinct().collect()}
    want = {tuple(r) for r in df.distinct().collect()}
    assert got == want

    import pyarrow.parquet as pq
    import glob

    n_groups = sum(
        pq.ParquetFile(f).metadata.num_row_groups
        for f in glob.glob(f"{out}/*.parquet")
    )
    assert n_groups > 2, "fixture must span multiple row groups"

    stats = load_sidecar(out)[0]
    assert any(s["c1"].max == 9223372036854775807 for s in stats.values())
    # pruning on extreme values stays sound
    pruned, decision = read_pruned(spark, out, Equal("c1", 9223372036854775807))
    assert pruned.count() == 17_500
    _, none_dec = read_pruned(spark, out, Greater("c0", 2147483647))
    assert not none_dec.scan


def test_describe_segments(spark, tmp_path):
    out = str(tmp_path / "desc")
    write_segments(
        spark.read.parquet(f"{SMOKE_SF}/region.parquet"), out, num_segments=1
    )
    d = describe_segments(spark, out)
    rows = {r.column: r for r in d.collect()}
    assert rows["r_regionkey"].null_count == 0
    assert rows["r_name"].min == "AFRICA"


def test_describe_segments_lists_delta_appended_files(spark, tmp_path):
    """After a delta append the table sidecar lags the manifest; the
    inspection still lists every live file, the appended one with its
    batch sidecar's stats."""
    from indexr_spark.sources import snapshots as S

    out = str(tmp_path / "desc")
    write_segments(
        spark.createDataFrame([(1,), (2,), (3,)], "k int"), out, sort_by=["k"],
        num_segments=2,
    )
    S.ensure_snapshot(out)
    S.append_snapshot(spark.createDataFrame([(100,)], "k int"), out)
    # a zero-row file, which Spark may write for an empty partition,
    # has no stats to list
    live = [
        f for f in S.files_of(out, S.latest_version(out))
        if pq.read_metadata(os.path.join(out, f)).num_rows
    ]
    assert len(live) == 3
    rows = describe_segments(spark, out).collect()
    assert {r.file for r in rows} == {os.path.basename(f) for f in live}
    assert ("100", "100") in {(r.min, r.max) for r in rows}


def test_salted_agg_matches_plain_groupby(spark):
    """Property: salting is result-invariant for algebraic aggregates,
    whatever the key skew. (hypothesis-style but with a fixed skewed
    corpus — per-example session reuse keeps it fast; the q27 oracle
    covers the driver-checked case.)"""
    import random

    from pyspark.sql import functions as F

    from indexr_spark.operators.skew import salted_agg

    rng = random.Random(7)
    # 90% of rows on one hot key — the regime salting exists for
    rows = [
        ("hot" if rng.random() < 0.9 else f"k{rng.randint(0, 20)}", rng.randint(-100, 100))
        for _ in range(5000)
    ]
    df = spark.createDataFrame(rows, "k string, v int")
    salted = salted_agg(
        df,
        keys=["k"],
        aggs={
            "s": ("sum", F.col("v")),
            "n": ("count", F.lit(1)),
            "mn": ("min", F.col("v")),
            "mx": ("max", F.col("v")),
        },
        n_salts=13,
    )
    plain = df.groupBy("k").agg(
        F.sum("v").alias("s"),
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_hll_sketch_union_accuracy(spark):
    """s08: the exact counts in the verdict frame match independently
    computed exacts, every within_rel_err verdict (per-group AND the
    sketch-union row) holds, and row totals line up — the merge loses
    no more accuracy than the sketch itself."""
    from pyspark.sql import functions as F

    from indexr_spark.operators.similarity import s08_hll_sketch_union
    from tests.conftest import SMOKE_SF

    rows = {r.l_returnflag: r for r in s08_hll_sketch_union(spark, SMOKE_SF).collect()}
    li = spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet")
    exact_all = li.select("l_partkey").distinct().count()
    exact_per = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for flag, exact in exact_per.items():
        assert rows[flag].exact_parts == exact, (flag, rows[flag], exact)
        assert rows[flag].within_rel_err, rows[flag]
    assert rows["__all__"].exact_parts == exact_all
    assert rows["__all__"].within_rel_err, rows["__all__"]
    assert rows["__all__"].n_rows == li.count()

    # tighter independent pin: rebuild the per-flag sketches and their
    # union directly and hold them to the sketch's own ~2% error bound
    # (the query's 5% verdict tolerance must not be what saves them)
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    ests = {
        r.l_returnflag: r.est
        for r in per_flag.select(
            "l_returnflag", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    for flag, exact in exact_per.items():
        assert abs(ests[flag] - exact) / exact < 0.02, (flag, ests[flag], exact)
    union_est = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0].est
    assert abs(union_est - exact_all) / exact_all < 0.02, (union_est, exact_all)
