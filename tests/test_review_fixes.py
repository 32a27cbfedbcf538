"""Regression tests for the round-2 self-review findings: metadata
dirs vs snapshot adoption/vacuum, snapshot-aware compaction, plan-walk
soundness through computed projections, partitioned predicate reads,
CLI spec sync, and compacted-epoch replay."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from indexr_spark.sources.catalog import Catalog, ColumnSpec, TableSpec
from indexr_spark.sources.segments import load_sidecar, write_segments
from indexr_spark.sources.snapshots import latest_version, read_table, vacuum
from indexr_spark.sources.tools import update_column


def _indexed_table(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(
            name="t",
            columns=[ColumnSpec("k", "int"), ColumnSpec("s", "varchar", index=True)],
            sort_by=["k"],
        )
    )
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "zulu")], "k int, s string"
    )
    write_segments(df, cat.table_dir("t"), sort_by=["k"], num_segments=2)
    cat.build_indexes(spark, "t")
    return cat


def test_snapshot_adoption_excludes_index_postings(spark, tmp_path):
    """A rewrite on an indexed table must not adopt the term-index
    posting files as table data (that turned postings into NULL rows
    baked into every later version)."""
    cat = _indexed_table(spark, tmp_path)
    update_column(spark, cat.table_dir("t"), "ALTCOL", "k", "k + 100", sort_by=["k"])
    got = {(r.k, r.s) for r in read_table(spark, cat.table_dir("t")).collect()}
    assert got == {(101, "alpha"), (102, "beta"), (103, "gamma"), (104, "zulu")}
    # and through the catalog read as well
    got2 = {(r.k, r.s) for r in cat.read(spark, "t").collect()}
    assert got2 == got


def test_vacuum_preserves_index_postings(spark, tmp_path):
    cat = _indexed_table(spark, tmp_path)
    path = cat.table_dir("t")
    update_column(spark, path, "ALTCOL", "k", "k + 1", sort_by=["k"])
    update_column(spark, path, "ALTCOL", "k", "k + 1", sort_by=["k"])
    deleted = vacuum(path, keep_versions=1, min_age_s=0)
    assert deleted  # old versions retired
    assert not any("_indexr_term_index" in d for d in deleted)
    from indexr_spark.plans.rough_check import Equal
    from indexr_spark.sources.segments import TERM_INDEX_DIR, read_pruned

    # postings still loadable (stale content is a rebuild concern, not
    # a vacuum one)
    assert os.path.isdir(os.path.join(path, TERM_INDEX_DIR, "s"))
    assert read_pruned(spark, path, Equal("s", "zulu"))[1].scan


def test_compact_appends_through_manifest_on_adopted_table(spark, tmp_path):
    """Compaction into a snapshot-adopted table goes through a manifest
    APPEND: rows visible exactly once via both the manifest read and
    the pruned-predicate read."""
    from indexr_spark.streaming.ingest import compact

    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "bigint")],
                  sort_by=["k"])
    )
    base = spark.createDataFrame([(1, 10), (2, 20)], "k int, v bigint")
    write_segments(base, cat.table_dir("t"), sort_by=["k"], num_segments=1)
    # adopt as snapshot via a rewrite
    update_column(spark, cat.table_dir("t"), "ALTCOL", "v", "v", sort_by=["k"])
    assert latest_version(cat.table_dir("t")) == 2

    rt = cat.rt_dir("t")
    spark.createDataFrame([(3, 30)], "k int, v bigint").write.parquet(
        os.path.join(rt, "batch=0")
    )
    assert compact(spark, cat, "t") == 1
    assert latest_version(cat.table_dir("t")) == 3

    # manifest read: exactly 3 rows
    got = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert got == {(1, 10), (2, 20), (3, 30)}
    # pruned-predicate read: no double counting of pre-rewrite files
    out = cat.sql(spark, "SELECT count(*) AS n FROM t WHERE k >= 1")
    assert out.collect()[0].n == 3
    # the sidecar may LAG on delta appends (round 5: its O(files)
    # refresh is amortized to full-manifest materializations, and
    # Catalog.prune reads it through live_stats) — it must describe a
    # SUBSET of the live set (never a superseded file), and the pruned
    # read above already proved no row is lost to the lag
    live = {f.removeprefix("file://") for f in cat.read(spark, "t").inputFiles()}
    covered = set(load_sidecar(cat.table_dir("t"))[0])
    assert covered <= live
    # specifically: it still describes v2 (the last full commit)
    from indexr_spark.sources.snapshots import files_of

    assert covered == {
        os.path.join(cat.table_dir("t"), f) for f in files_of(cat.table_dir("t"), 2)
    }


def test_no_false_prune_through_computed_projection(spark, tmp_path):
    """A filter above a computed projection that reuses a physical
    column NAME must not be attributed to the physical column's
    stats (rand() < 0.1 over an aliased column would have pruned
    everything)."""
    cat = Catalog(str(tmp_path))
    cat.save(TableSpec(name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "bigint")],
                       sort_by=["k"]))
    write_segments(
        spark.range(0, 1000).selectExpr("cast(id as int) k", "id + 1000000 v"),
        cat.table_dir("t"), sort_by=["k"], num_segments=4,
    )
    # inner projection computes a new 'v' in [0,1); physical v stats
    # are ~1e6 — name-based attribution would prune every file
    out = cat.sql(
        spark,
        "SELECT count(*) AS n FROM "
        "(SELECT k, rand(42) AS v FROM t) WHERE v < 0.5",
    )
    n = out.collect()[0].n
    assert 300 < n < 700  # ~50% of 1000; 0 would mean a false prune


def test_partitioned_table_predicate_read_keeps_partition_values(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(
            name="t",
            columns=[ColumnSpec("region", "varchar"), ColumnSpec("k", "int"),
                     ColumnSpec("v", "bigint")],
        )
    )
    df = spark.createDataFrame(
        [("eu", 1, 10), ("eu", 50, 20), ("us", 2, 30), ("us", 60, 40)],
        "region string, k int, v bigint",
    )
    write_segments(df, cat.table_dir("t"), partition_by=["region"])
    out = cat.sql(
        spark, "SELECT region, k FROM t WHERE k >= 50 ORDER BY region"
    )
    rows = [(r.region, r.k) for r in out.collect()]
    assert rows == [("eu", 50), ("us", 60)]  # partition values intact


def test_cli_update_column_syncs_spec(spark, tmp_path, capsys):
    from indexr_spark.cli import main

    root = str(tmp_path)
    cat = Catalog(root)
    cat.save(TableSpec(name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
                       sort_by=["k"]))
    write_segments(
        spark.createDataFrame([(1, 2.0)], "k int, v double"),
        cat.table_dir("t"), sort_by=["k"], num_segments=1,
    )
    assert main(["update-column", root, "t", "ADDCOL", "v2", "--expr", "v * 10"],
                spark=spark) == 0
    # the new column is visible through catalog SQL (spec was synced)
    out = cat.sql(spark, "SELECT v2 FROM t")
    assert [r.v2 for r in out.collect()] == [20.0]
    assert main(["update-column", root, "t", "DELCOL", "v"], spark=spark) == 0
    spec = cat.load("t")
    assert [c.name for c in spec.columns] == ["k", "v2"]
    assert cat.read(spark, "t").columns == ["k", "v2"]


def test_replayed_epoch_after_compaction_not_duplicated(spark, tmp_path):
    """A crash-replayed epoch whose batch was already compacted must
    not re-enter rt (its rows would be double-applied next compact)."""
    import json

    from indexr_spark.sources.catalog import (
        AggSchema, Metric, RealtimeSpec,
    )
    from indexr_spark.streaming.ingest import compact, start_ingest

    root = str(tmp_path)
    cat = Catalog(root)
    cat.save(
        TableSpec(
            name="m",
            columns=[ColumnSpec("day", "int"), ColumnSpec("x", "bigint")],
            realtime=RealtimeSpec(
                agg=AggSchema(grouping=True, dims=["day"],
                              metrics=[Metric("x", "sum")])
            ),
        )
    )
    src = os.path.join(root, "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write(json.dumps({"seq": 1, "day": 1, "x": 5}) + "\n")
    events = spark.readStream.schema("seq long, day int, x long").json(src)
    q = start_ingest(spark, events, cat, "m", order_col="seq", available_now=True)
    q.awaitTermination(120)
    assert compact(spark, cat, "m") == 1

    # simulate the replay: run the sink again for the SAME epoch id
    from indexr_spark.streaming.ingest import _compact_watermark

    assert _compact_watermark(cat, "m") == 0
    q2 = start_ingest(
        spark,
        spark.readStream.schema("seq long, day int, x long").json(src),
        cat,
        "m",
        order_col="seq",
        available_now=True,
        checkpoint_dir=os.path.join(root, "ck2"),  # fresh checkpoint → epoch 0 again
    )
    q2.awaitTermination(120)
    # replayed epoch 0 was skipped: rt is empty, second compact moves 0
    assert compact(spark, cat, "m") == 0
    assert cat.read(spark, "m").agg(F.sum("x")).collect()[0][0] == 5


def test_corrupt_sidecar_degrades_to_full_scan(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.save(TableSpec(name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "bigint")],
                       sort_by=["k"]))
    write_segments(
        spark.range(0, 100).selectExpr("cast(id as int) k", "id v"),
        cat.table_dir("t"), sort_by=["k"], num_segments=2,
    )
    from indexr_spark.sources.segments import SIDECAR_NAME

    with open(os.path.join(cat.table_dir("t"), SIDECAR_NAME), "w") as f:
        f.write("{ torn write")
    out = cat.sql(spark, "SELECT count(*) AS n FROM t WHERE k >= 90")
    assert out.collect()[0].n == 10  # correct answer, unpruned


def test_concurrent_commit_does_not_overwrite_manifest(spark, tmp_path):
    """Two committers racing from the same base version both land:
    distinct manifest files, LATEST at the higher version (the old
    last-wins os.replace silently destroyed one commit)."""
    import json

    from indexr_spark.sources.snapshots import (
        _commit, _load_manifest, latest_version, write_snapshot,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    write_snapshot(df, path)
    assert latest_version(path) == 1
    for sub in ("zz", "aa"):
        os.makedirs(os.path.join(path, "data", sub), exist_ok=True)
        pq.write_table(
            pa.table({"k": [1]}), os.path.join(path, "data", sub, "x.parquet")
        )
    # simulate the race: a manifest for v2 appears between the other
    # committer's version read and its write
    with open(os.path.join(path, "_manifests", "v2.json"), "w") as f:
        json.dump({"version": 2, "files": ["data/zz/x.parquet"]}, f)
    v = _commit(path, ["data/aa/x.parquet"])
    assert v == 3  # loser re-committed at the next slot
    assert _load_manifest(path, 2)["files"] == ["data/zz/x.parquet"]  # intact
    assert _load_manifest(path, 3)["files"] == ["data/aa/x.parquet"]
