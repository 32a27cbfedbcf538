"""CSV load/export + update-column rewrite tests (M5 tooling)."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from indexr_spark.sources.catalog import ColumnSpec, TableSpec
from indexr_spark.sources.segments import load_sidecar, write_segments
from indexr_spark.sources.snapshots import read_table
from indexr_spark.sources.tools import csv_export, csv_load, update_column
from tests.conftest import SMOKE_SF

SPEC = TableSpec(
    name="csvt",
    columns=[
        ColumnSpec("k", "int"),
        ColumnSpec("name", "varchar"),
        ColumnSpec("v", "double", default=0.0),
    ],
    sort_by=["k"],
)


def test_csv_roundtrip(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("3|c|3.5\n1|a|1.5\n2|b|\n")  # missing v -> default
    seg = str(tmp_path / "seg")
    n = csv_load(spark, str(src), SPEC, seg, delimiter="|")
    assert n == 3
    rows = {tuple(r) for r in spark.read.parquet(seg).collect()}
    assert rows == {(1, "a", 1.5), (2, "b", 0.0), (3, "c", 3.5)}
    assert load_sidecar(seg)[0]  # immediately prunable

    out = str(tmp_path / "out_csv")
    csv_export(spark, seg, out, delimiter=";")
    text = "".join(
        open(f).read() for f in sorted(glob.glob(f"{out}/part-*"))
    )
    assert "a;1.5" in text.replace("1;a;1.5", "a;1.5")


@pytest.fixture()
def orders_table(spark, tmp_path):
    path = str(tmp_path / "orders")
    write_segments(
        spark.read.parquet(f"{SMOKE_SF}/orders.parquet"),
        path,
        sort_by=["o_orderdate"],
        num_segments=2,
    )
    return path


def test_update_column_addcol(spark, orders_table):
    update_column(
        spark,
        orders_table,
        "ADDCOL",
        "adjusted",
        "if(o_totalprice > 100000, o_totalprice - 100000, o_totalprice + 100000)",
        sort_by=["o_orderdate"],
    )
    df = read_table(spark, orders_table)
    assert "adjusted" in df.columns
    bad = df.filter(
        (
            F.when(
                F.col("o_totalprice") > 100000, F.col("o_totalprice") - 100000
            ).otherwise(F.col("o_totalprice") + 100000)
        )
        != F.col("adjusted")
    ).count()
    assert bad == 0
    assert load_sidecar(orders_table)[0]  # sidecar rebuilt after rewrite


def test_update_column_delcol_and_errors(spark, orders_table):
    update_column(spark, orders_table, "DELCOL", "o_orderpriority")
    assert "o_orderpriority" not in read_table(spark, orders_table).columns

    with pytest.raises(ValueError, match="does not exist"):
        update_column(spark, orders_table, "DELCOL", "nope")
    with pytest.raises(ValueError, match="already exists"):
        update_column(spark, orders_table, "ADDCOL", "o_orderkey", "1")
    with pytest.raises(ValueError, match="unknown mode"):
        update_column(spark, orders_table, "RENAME", "x")
    # failed rewrites must not clobber the table
    assert read_table(spark, orders_table).count() > 0


def test_update_column_altcol(spark, orders_table):
    before = read_table(spark, orders_table).agg(F.sum("o_totalprice")).collect()[0][0]
    update_column(spark, orders_table, "ALTCOL", "o_totalprice", "o_totalprice * 2")
    after = read_table(spark, orders_table).agg(F.sum("o_totalprice")).collect()[0][0]
    assert after == pytest.approx(before * 2)


def test_cli_catalog_commands(tmp_path, capsys):
    """CLI create/tables (catalog-only subcommands — no session spin-up;
    the session-backed subcommands share the same code paths as the
    tested library functions)."""
    from indexr_spark.cli import main
    from indexr_spark.sources.catalog import ColumnSpec, TableSpec

    spec = TableSpec(
        name="clitab",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(spec.to_json())

    assert main(["create", str(tmp_path), str(spec_path)]) == 0
    out1 = capsys.readouterr().out
    assert "clitab" in out1 and "2 columns" in out1

    assert main(["tables", str(tmp_path)]) == 0
    assert capsys.readouterr().out.strip() == "clitab"


def test_cli_end_to_end(spark, tmp_path, capsys):
    """CLI lifecycle with an injected session: create → load-csv →
    describe → query (the indexr-tool workflow, SURVEY.md §7 M5)."""
    from indexr_spark.cli import main
    from indexr_spark.sources.catalog import ColumnSpec, TableSpec

    spec = TableSpec(
        name="sales",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(spec.to_json())
    csv_path = tmp_path / "in.csv"
    csv_path.write_text("3,3.5\n1,1.5\n2,2.5\n")

    root = str(tmp_path / "cat")
    assert main(["create", root, str(spec_path)], spark=spark) == 0
    assert main(["load-csv", root, "sales", str(csv_path)], spark=spark) == 0
    out = capsys.readouterr().out
    assert "loaded 3 rows" in out

    assert main(["describe", root, "sales"], spark=spark) == 0
    assert main(
        ["query", root, "SELECT sum(v) AS s FROM sales WHERE k >= 2"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "6.0" in out
    # injected session must survive the CLI call
    assert spark.range(1).count() == 1


def test_upsert_segments(spark, tmp_path):
    """MERGE semantics: matched keys replaced, new keys appended,
    untouched rows survive; table stays sorted + sidecar'd."""
    from pyspark.sql import functions as F

    from indexr_spark.sources.segments import write_segments
    from indexr_spark.sources.tools import upsert_segments

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k int, s string, v double"
    )
    write_segments(base, path, sort_by=["k"], num_segments=2)

    updates = spark.createDataFrame(
        [(2, "B", 20.0), (4, "d", 4.0)], "k int, s string, v double"
    )
    n_upd, n_ins = upsert_segments(spark, path, updates, ["k"], sort_by=["k"])
    assert (n_upd, n_ins) == (1, 1)

    got = {
        tuple(r) for r in read_table(spark, path).orderBy("k").collect()
    }
    assert got == {(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0), (4, "d", 4.0)}
    # sidecar refreshed for the new layout
    from indexr_spark.sources.segments import load_sidecar

    assert sum(1 for _ in load_sidecar(path)[0]) > 0


def test_optimize_segments_compacts_files(spark, tmp_path):
    """Bin-packing compaction: many tiny segments → few right-sized
    ones, same rows, sort preserved."""
    from indexr_spark.sources.segments import write_segments
    from indexr_spark.sources.tools import optimize_segments

    path = str(tmp_path / "t")
    df = spark.range(0, 10000).selectExpr("id AS k", "id * 1.5 AS v")
    write_segments(df, path, sort_by=["k"], num_segments=20)

    before, after = optimize_segments(
        spark, path, target_rows_per_file=5000, sort_by=["k"]
    )
    assert before == 20 and after == 2, (before, after)
    out = read_table(spark, path)
    assert out.count() == 10000
    assert out.agg({"v": "sum"}).collect()[0][0] == sum(i * 1.5 for i in range(10000))


def test_rewrite_tools_preserve_pinned_readers(spark, tmp_path):
    """A scan pinned before a rewrite still reads its version's files
    afterwards (the directory-swap design broke exactly this); vacuum
    with keep_versions=1 then retires the old files."""
    from indexr_spark.sources.segments import write_segments
    from indexr_spark.sources.snapshots import (
        latest_version,
        read_snapshot,
        read_table,
        vacuum,
    )
    from indexr_spark.sources.tools import update_column, upsert_segments

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    write_segments(base, path, sort_by=["k"], num_segments=2)

    update_column(spark, path, "ALTCOL", "v", "v * 10", sort_by=["k"])
    pinned = read_snapshot(spark, path, version=2)  # pin post-ALTCOL
    pinned_files = pinned.inputFiles()

    upsert_segments(
        spark, path, spark.createDataFrame([(2, -1.0)], "k int, v double"),
        ["k"], sort_by=["k"],
    )
    assert latest_version(path) == 3
    # pinned version still fully readable — its files were not touched
    assert {(r.k, r.v) for r in pinned.collect()} == {
        (1, 100.0), (2, 200.0), (3, 300.0)
    }
    assert pinned.inputFiles() == pinned_files
    # latest sees the upsert
    assert {(r.k, r.v) for r in read_table(spark, path).collect()} == {
        (1, 100.0), (2, -1.0), (3, 300.0)
    }
    # retire everything but the latest version; the pinned file set dies
    deleted = vacuum(path, keep_versions=1, min_age_s=0)
    assert deleted
    import os

    assert not any(os.path.exists(f.removeprefix("file:")) for f in pinned_files)
    # latest still intact after vacuum, and prunable (sidecar current)
    from indexr_spark.sources.segments import load_sidecar

    live = read_table(spark, path)
    assert live.count() == 3
    assert set(load_sidecar(path)[0]) == {f.removeprefix("file://") for f in live.inputFiles()}


def test_cli_update_column(spark, tmp_path, capsys):
    """CLI update-column drives the snapshot rewrite end to end, and
    a following catalog read sees the new column."""
    from indexr_spark.cli import main
    from indexr_spark.sources.catalog import Catalog, ColumnSpec, TableSpec

    root = str(tmp_path)
    cat = Catalog(root)
    cat.save(TableSpec(name="t", columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
                       sort_by=["k"]))
    write_segments(
        spark.createDataFrame([(1, 2.0), (2, 4.0)], "k int, v double"),
        cat.table_dir("t"), sort_by=["k"], num_segments=1,
    )
    rc = main(["update-column", root, "t", "ADDCOL", "v2", "--expr", "v * 10"],
              spark=spark)
    assert rc == 0 and "committed" in capsys.readouterr().out
    got = {(r.k, r.v2) for r in read_table(spark, cat.table_dir("t")).collect()}
    assert got == {(1, 20.0), (2, 40.0)}


def test_csv_export_reads_live_snapshot(spark, tmp_path):
    """After a snapshot rewrite the retired files stay on disk until
    vacuum; the export holds the live rows only."""
    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("CAST(id AS INT) k", "id v")
    write_segments(df, path, num_segments=4)
    update_column(spark, path, "ALTCOL", "v", "v + 1")
    out = str(tmp_path / "out_csv")
    csv_export(spark, path, out)
    got = spark.read.schema("k int, v long").csv(out)
    assert got.count() == 100
    assert got.agg(F.sum("v")).collect()[0][0] == sum(range(100)) + 100
