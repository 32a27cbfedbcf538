"""Catalog (TableSchema/AggSchema JSON parity) + hybrid view tests."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from indexr_spark.sources.catalog import (
    AggSchema,
    Catalog,
    ColumnSpec,
    Metric,
    RealtimeSpec,
    TableSpec,
    apply_defaults,
)
from indexr_spark.sources.segments import write_segments

# The reference's example table (indexr-tool/example/example_schema.json
# restated; FIXTURES.md F2): dims date/datetime/d1, metrics m1..m4.
RT_EVENTS = TableSpec(
    name="rt_events",
    columns=[
        ColumnSpec("date", "date"),
        ColumnSpec("datetime", "datetime"),
        ColumnSpec("d1", "varchar", index=True),
        ColumnSpec("m1", "int"),
        ColumnSpec("m2", "bigint"),
        ColumnSpec("m3", "float", default=-0.1),
        ColumnSpec("m4", "double"),
    ],
    realtime=RealtimeSpec(
        aliases={"dt": "date", "m1_alias": "m1"},
        tag_field="tag",
        accept_tags=["a", "b"],
        agg=AggSchema(
            grouping=True,
            dims=["date", "datetime", "d1"],
            metrics=[
                Metric("m1", "sum"),
                Metric("m2", "min"),
                Metric("m3", "max"),
                Metric("m4", "first"),
            ],
        ),
    ),
    sort_by=["date", "datetime", "d1"],
)


def test_spec_json_roundtrip(tmp_path):
    cat = Catalog(str(tmp_path))
    cat.save(RT_EVENTS)
    loaded = cat.load("rt_events")
    assert loaded == RT_EVENTS
    assert cat.list_tables() == ["rt_events"]
    assert loaded.indexed_columns() == ["d1"]
    assert loaded.schema()["m3"].dataType == T.FloatType()


def test_apply_defaults(spark):
    df = spark.createDataFrame(
        [(1.5,), (None,)], T.StructType([T.StructField("m3", T.FloatType())])
    )
    spec = TableSpec(name="t", columns=[ColumnSpec("m3", "float", default=-0.1)])
    vals = sorted(
        r.m3 for r in apply_defaults(df, spec).collect()
    )
    assert vals[0] == -0.10000000149011612  # float32 of -0.1
    assert vals[1] == 1.5


def test_hybrid_view_union(spark, tmp_path):
    """HybridTable parity: historical ∪ realtime behind one read."""
    cat = Catalog(str(tmp_path))
    spec = TableSpec(
        name="t",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    cat.save(spec)
    hist = spark.createDataFrame([(1, 1.0), (2, 2.0)], spec.schema())
    rt = spark.createDataFrame([(3, 3.0)], spec.schema())
    write_segments(hist, cat.table_dir("t"), sort_by=["k"], num_segments=1)

    # before any rt data: hybrid == historical
    assert cat.read_hybrid(spark, "t").count() == 2

    rt.write.parquet(cat.rt_dir("t"), mode="overwrite")
    got = {tuple(r) for r in cat.read_hybrid(spark, "t").collect()}
    assert got == {(1, 1.0), (2, 2.0), (3, 3.0)}


def test_register_sql_views(spark, tmp_path):
    """Catalog tables become plain SQL names — the host-engine
    publishing surface (Drill/Hive/Spark adapters of the reference)."""
    cat = Catalog(str(tmp_path))
    spec = TableSpec(
        name="sales",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    cat.save(spec)
    hist = spark.createDataFrame([(1, 1.0), (2, 2.0)], spec.schema())
    write_segments(hist, cat.table_dir("sales"), sort_by=["k"], num_segments=1)
    spark.createDataFrame([(3, 3.0)], spec.schema()).write.parquet(
        cat.rt_dir("sales"), mode="overwrite"
    )
    assert cat.register_sql_views(spark) == ["sales"]
    got = spark.sql("SELECT sum(v) AS s, count(*) AS n FROM sales").collect()[0]
    assert (got.s, got.n) == (6.0, 3)  # hybrid: historical + realtime


def test_read_applies_defaults(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    spec = TableSpec(
        name="d",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double", default=0.5)],
    )
    cat.save(spec)
    df = spark.createDataFrame([(1, None), (2, 9.0)], spec.schema())
    write_segments(df, cat.table_dir("d"), num_segments=1)
    got = {tuple(r) for r in cat.read(spark, "d").collect()}
    assert got == {(1, 0.5), (2, 9.0)}


def _sorted_table(spark, tmp_path, name="li", n_files=8):
    """lineitem-ish table written shipdate-sorted with a sidecar."""
    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(
            name=name,
            columns=[
                ColumnSpec("k", "bigint"),
                ColumnSpec("ship", "datetime"),
                ColumnSpec("flag", "varchar"),
                ColumnSpec("qty", "double"),
            ],
            sort_by=["ship"],
        )
    )
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").selectExpr(
        "l_orderkey as k",
        "l_shipdate as ship",
        "l_returnflag as flag",
        "l_quantity as qty",
    )
    write_segments(df, cat.table_dir(name), sort_by=["ship"], num_segments=n_files)
    return cat


def test_catalog_sql_prunes_files_by_default(spark, tmp_path):
    """The reference runs its skipping cascade on EVERY scan
    (IndexRRecordReader.init2) — catalog.sql() must too: a selective
    predicate over the sort column reads fewer files than exist, with
    results identical to the unpruned plan."""
    cat = _sorted_table(spark, tmp_path)
    q = (
        "SELECT flag, round(sum(qty), 2) AS s FROM li "
        "WHERE ship >= timestamp'1997-09-01' GROUP BY flag ORDER BY flag"
    )
    pruned = cat.sql(spark, q)
    res = cat.last_prune["li"]
    assert res.skipped, "selective predicate on the sort column must skip files"
    assert len(pruned.inputFiles()) < res.n_total
    # correctness: identical to the unpruned plan
    cat.register_sql_views(spark)
    assert pruned.collect() == spark.sql(q).collect()


def test_catalog_sql_unfiltered_table_unpruned(spark, tmp_path):
    cat = _sorted_table(spark, tmp_path)
    out = cat.sql(spark, "SELECT count(*) AS n FROM li")
    assert "li" not in cat.last_prune  # no predicate → no prune attempt
    assert out.collect()[0].n == spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).count()


def test_catalog_sql_prune_sound_with_defaults(spark, tmp_path):
    """WHERE c = <default> must not skip files whose NULL rows become
    the default on read (no-NULL emulation, ColumnSchema.java:45-54)."""
    cat = Catalog(str(tmp_path))
    spec = TableSpec(
        name="t",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "bigint", default=99)],
        sort_by=["k"],
    )
    cat.save(spec)
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 20), (4, 30)], spec.schema()
    )
    write_segments(df, cat.table_dir("t"), sort_by=["k"], num_segments=2)
    out = cat.sql(spark, "SELECT k FROM t WHERE v = 99 ORDER BY k")
    assert [r.k for r in out.collect()] == [2]  # the defaulted NULL row


def test_catalog_sql_hybrid_rt_rows_survive_pruning(spark, tmp_path):
    """Pruning applies to the historical pool only — rt batches are
    always scanned, so hybrid reads stay complete mid-ingest."""
    cat = _sorted_table(spark, tmp_path)
    spec = cat.load("li")
    # rt row past the historical max shipdate (2001-11-04 in testdata)
    spark.createDataFrame(
        [(999999, __import__("datetime").datetime(2002, 6, 1), "Z", 1.0)],
        spec.schema(),
    ).write.parquet(cat.rt_dir("li"), mode="overwrite")
    out = cat.sql(
        spark,
        "SELECT flag FROM li WHERE ship >= timestamp'2002-01-01' ORDER BY flag",
    )
    assert [r.flag for r in out.collect()] == ["Z"]
    assert cat.last_prune["li"].skipped  # historical files were pruned


@pytest.mark.parametrize("hybrid", [True, False])
def test_catalog_sql_restores_unpruned_view(spark, tmp_path, hybrid):
    """The pruned view only lives for the re-plan: after a query that
    skips files, the table's view reads every row again."""
    cat = _sorted_table(spark, tmp_path)
    spark.createDataFrame(
        [(999999, datetime.datetime(2002, 6, 1), "Z", 1.0)],
        cat.load("li").schema(),
    ).write.parquet(cat.rt_dir("li"), mode="overwrite")
    full = (cat.read_hybrid if hybrid else cat.read)(spark, "li").count()
    out = cat.sql(
        spark,
        "SELECT count(*) AS n FROM li WHERE ship >= timestamp'1997-09-01'",
        hybrid=hybrid,
    )
    assert cat.last_prune["li"].skipped
    assert out.collect()[0].n < full
    assert spark.table("li").count() == full


def test_hive_ddl_roundtrip(spark, tmp_path):
    """HiveHelper.getHiveTableCreateSql parity: the spec travels as
    TBLPROPERTIES through a metastore CREATE TABLE, and a fresh reader
    reconstructs index/sort/agg/default settings from the catalog
    alone (HiveHelper.java:28-96)."""
    from indexr_spark.sources.catalog import hive_ddl, spec_from_table

    spec = TableSpec(
        name="ddl_t",
        columns=[
            ColumnSpec("date", "date"),
            ColumnSpec("tod", "time"),
            ColumnSpec("d1", "varchar", index=True),
            ColumnSpec("m1", "int"),
            ColumnSpec("m3", "float", default=-0.1),
        ],
        realtime=RealtimeSpec(
            agg=AggSchema(
                grouping=True,
                dims=["date", "d1"],
                metrics=[Metric("m1", "sum"), Metric("m3", "max")],
            )
        ),
        sort_by=["date", "d1"],
    )
    loc = str(tmp_path / "seg")
    spark.createDataFrame([], spec.schema()).write.parquet(loc)
    spark.sql("DROP TABLE IF EXISTS ddl_t")
    ddl = hive_ddl(spec, loc)
    spark.sql(ddl)
    try:
        got = spec_from_table(spark, "ddl_t")
        assert got.columns == spec.columns
        assert got.sort_by == spec.sort_by
        assert got.realtime.agg == spec.realtime.agg
        assert got.indexed_columns() == ["d1"]
        # the table is queryable through plain SQL like any other
        assert spark.sql("SELECT count(*) n FROM ddl_t").collect()[0].n == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ddl_t")


def test_catalog_sql_large_in_list_prunes(spark, tmp_path):
    """IN lists past Catalyst's In→InSet threshold (10) still convert
    and prune — the InSet branch walks the JVM hash set, including
    UTF8String members."""
    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "bigint")],
                  sort_by=["k"])
    )
    write_segments(
        spark.range(0, 1000).selectExpr("cast(id as int) k", "id * 2 v"),
        cat.table_dir("t"), sort_by=["k"], num_segments=4,
    )
    vals = ",".join(str(i) for i in range(900, 925))  # 25 values
    out = cat.sql(spark, f"SELECT count(*) AS n FROM t WHERE k IN ({vals})")
    assert out.collect()[0].n == 25
    assert len(cat.last_prune["t"].scan) == 1

    cat.save(
        TableSpec(name="s", columns=[ColumnSpec("k", "int"), ColumnSpec("s", "varchar")],
                  sort_by=["s"])
    )
    write_segments(
        spark.createDataFrame([(i, f"w{i:03d}") for i in range(100)], "k int, s string"),
        cat.table_dir("s"), sort_by=["s"], num_segments=4,
    )
    svals = ",".join(f"'w{i:03d}'" for i in range(90, 115))
    out2 = cat.sql(spark, f"SELECT count(*) AS n FROM s WHERE s IN ({svals})")
    assert out2.collect()[0].n == 10
    assert len(cat.last_prune["s"].scan) == 1


def test_catalog_read_respects_snapshot_versions(spark, tmp_path):
    """After a rewrite tool adopts a catalog table as a snapshot, reads
    through the catalog (and catalog SQL pruning) see exactly the
    latest version — never old-version files awaiting vacuum."""
    from indexr_spark.sources.tools import upsert_segments

    cat = Catalog(str(tmp_path))
    spec = TableSpec(
        name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    cat.save(spec)
    base = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], spec.schema())
    write_segments(base, cat.table_dir("t"), sort_by=["k"], num_segments=2)

    upsert_segments(
        spark, cat.table_dir("t"),
        spark.createDataFrame([(2, -2.0), (4, 4.0)], spec.schema()),
        ["k"], sort_by=["k"],
    )
    got = {tuple(r) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 1.0), (2, -2.0), (3, 3.0), (4, 4.0)}  # no duplicates

    # pruned SQL path stays version-consistent too
    out = cat.sql(spark, "SELECT v FROM t WHERE k = 2")
    assert [r.v for r in out.collect()] == [-2.0]


def test_catalog_sql_prunes_both_join_sides(spark, tmp_path):
    """A join query prunes each relation through its own pushed
    filters — the plan walker attributes conditions per branch."""
    cat = Catalog(str(tmp_path))
    for name in ("a", "b"):
        cat.save(
            TableSpec(name=name,
                      columns=[ColumnSpec("k", "int"), ColumnSpec("v", "bigint")],
                      sort_by=["k"])
        )
        write_segments(
            spark.range(0, 1000).selectExpr("cast(id as int) k", f"id * {1 if name == 'a' else 3} v"),
            cat.table_dir(name), sort_by=["k"], num_segments=4,
        )
    out = cat.sql(
        spark,
        "SELECT a.k, a.v AS av, b.v AS bv FROM a JOIN b ON a.k = b.k "
        "WHERE a.k >= 900 AND b.k < 950 ORDER BY a.k",
    )
    rows = out.collect()
    assert [r.k for r in rows] == list(range(900, 950))
    assert all(r.bv == 3 * r.k for r in rows)
    # both sides pruned: the filter k>=900 AND k<950 lands on each
    assert cat.last_prune["a"].skipped and cat.last_prune["b"].skipped


def test_catalog_prune_safe_with_lagging_sidecar(spark, tmp_path):
    """Delta appends defer the O(files) sidecar rewrite to the
    periodic full-manifest materialization (round 5), so a pruned read
    can run against a sidecar that does NOT cover the newest files.
    Such a file is checked against its batch dir's sidecar — skipped
    when that proves it disjoint, kept when it may match — and scanned
    unpruned (safe SOME) when no sidecar covers it: never silently
    dropped."""
    import json as _json
    import os

    import pyarrow.parquet as pq

    from indexr_spark.sources import snapshots as S
    from indexr_spark.sources.segments import SIDECAR_NAME

    cat = Catalog(str(tmp_path))
    spec = TableSpec(
        name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    cat.save(spec)
    tdir = cat.table_dir("t")
    write_segments(
        spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], spec.schema()),
        tdir, sort_by=["k"], num_segments=2,
    )
    S.ensure_snapshot(tdir)  # v1 full: sidecar current
    S.append_snapshot(
        spark.createDataFrame([(100, 100.0)], spec.schema()), tdir, sort_by=["k"]
    )  # v2 delta: sidecar now LAGS

    # precondition — the sidecar really doesn't cover the new file
    with open(os.path.join(tdir, SIDECAR_NAME)) as f:
        covered = {e["path"] for e in _json.load(f)["files"]}
    assert covered == set(S.files_of(tdir, 1))

    # appended rows survive a pruned read
    out = cat.sql(spark, "SELECT k, v FROM t WHERE k >= 2 ORDER BY k")
    assert [tuple(r) for r in out.collect()] == [(2, 2.0), (3, 3.0), (100, 100.0)]

    # the appended file's batch sidecar proves it disjoint from k = 1
    # and overlapping k = 100; the table sidecar still prunes its own
    from indexr_spark.plans.rough_check import Equal

    # the appended file holding the row (Spark may add a zero-row one)
    (new_file,) = [
        os.path.join(tdir, f)
        for f in set(S.files_of(tdir, 2)) - set(S.files_of(tdir, 1))
        if pq.read_metadata(os.path.join(tdir, f)).num_rows
    ]
    res = cat.prune("t", Equal("k", 1))
    assert res.skipped, "covered non-matching file should still prune"
    assert new_file in res.skipped and new_file not in res.scan
    res = cat.prune("t", Equal("k", 100))
    assert res.scan == [new_file]
    got = {tuple(r) for r in cat.read(spark, "t", files=res.scan).collect()}
    # the exact filter is the CALLER's job on read(); the pruned scan
    # must still hold the appended row
    assert (100, 100.0) in got

    # no sidecar covers the appended file: it is scanned (safe SOME).
    # A fresh catalog, since the stats cache keys on the table's own
    # index files and version, not on batch sidecars.
    os.remove(os.path.join(os.path.dirname(new_file), SIDECAR_NAME))
    cat = Catalog(str(tmp_path))
    res = cat.prune("t", Equal("k", 1))
    assert new_file in res.scan
    got = {tuple(r) for r in cat.read(spark, "t", files=res.scan).collect()}
    assert (1, 1.0) in got and (100, 100.0) in got
    out = cat.sql(spark, "SELECT k, v FROM t WHERE k >= 2 ORDER BY k")
    assert [tuple(r) for r in out.collect()] == [(2, 2.0), (3, 3.0), (100, 100.0)]


def test_catalog_prune_cache_survives_delta_append(spark, tmp_path, monkeypatch):
    """A delta append leaves the table sidecar as it was, so
    Catalog.prune keeps its parse cached and reads only the new
    batch's sidecar; the appended file still enters the decision, and
    a second prune at the same version reads no sidecar at all."""
    import os

    import pyarrow.parquet as pq

    from indexr_spark.plans.rough_check import Equal
    from indexr_spark.sources import segments
    from indexr_spark.sources import snapshots as S

    cat = Catalog(str(tmp_path))
    spec = TableSpec(name="t", columns=[ColumnSpec("k", "int")], sort_by=["k"])
    cat.save(spec)
    tdir = cat.table_dir("t")
    write_segments(
        spark.createDataFrame([(1,), (2,), (3,)], spec.schema()),
        tdir, sort_by=["k"], num_segments=2,
    )
    S.ensure_snapshot(tdir)
    assert not cat.prune("t", Equal("k", 100)).scan  # warms the cache
    S.append_snapshot(spark.createDataFrame([(100,)], spec.schema()), tdir, sort_by=["k"])
    (new_file,) = [
        os.path.join(tdir, f)
        for f in set(S.files_of(tdir, 2)) - set(S.files_of(tdir, 1))
        if pq.read_metadata(os.path.join(tdir, f)).num_rows
    ]

    real, loads = segments.load_sidecar, []
    monkeypatch.setattr(segments, "load_sidecar", lambda d: loads.append(d) or real(d))
    assert cat.prune("t", Equal("k", 100)).scan == [new_file]
    assert loads == [os.path.dirname(new_file)]
    loads.clear()
    assert new_file in cat.prune("t", Equal("k", 1)).skipped
    assert loads == []


@pytest.mark.parametrize("first", ["x", "x_rt"])
def test_save_refuses_rt_dir_collision(tmp_path, first):
    """`x`'s realtime dir is `x_rt`'s data dir: with both tables,
    read_hybrid("x") would scan `x_rt`'s segments as `x`'s realtime
    rows. Whichever is saved second is refused."""
    cat = Catalog(str(tmp_path))
    cols = [ColumnSpec("k", "int")]
    cat.save(TableSpec(name=first, columns=cols))
    second = "x_rt" if first == "x" else "x"
    with pytest.raises(ValueError, match="realtime dir"):
        cat.save(TableSpec(name=second, columns=cols))
    assert cat.list_tables() == [first]
    cat.save(TableSpec(name=first, columns=cols + [ColumnSpec("v", "double")]))


def test_read_column_contract_survives_ensure_snapshot(spark, tmp_path):
    """Catalog.read returns the same columns, types and rows for a
    table before and after ensure_snapshot adopts it: a defaulted
    column's stored NULLs read as the default, and a spec column the
    older files lack reads as NULL, either way."""
    from indexr_spark.sources.snapshots import ensure_snapshot, latest_version

    cat = Catalog(str(tmp_path))
    spec = TableSpec(
        name="t",
        columns=[
            ColumnSpec("k", "int"),
            ColumnSpec("v", "bigint", default=5),
            ColumnSpec("w", "varchar"),
        ],
        sort_by=["k"],
    )
    cat.save(spec)
    tdir = cat.table_dir("t")
    old = spark.createDataFrame([(1, None), (2, 20)], "k int, v bigint")
    write_segments(old, tdir, sort_by=["k"], num_segments=1)
    new = spark.createDataFrame([(3, None, "c"), (4, 40, None)], spec.schema())
    write_segments(new, tdir, sort_by=["k"], num_segments=1, mode="append")

    def contract():
        df = cat.read(spark, "t")
        cols = [(f.name, f.dataType) for f in df.schema]
        return cols, sorted(map(tuple, df.collect()))

    before = contract()
    assert before == (
        [(f.name, f.dataType) for f in spec.schema()],
        [(1, 5, None), (2, 20, None), (3, 5, "c"), (4, 40, None)],
    )
    ensure_snapshot(tdir)
    assert latest_version(tdir) == 1
    assert contract() == before
