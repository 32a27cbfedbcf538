"""Offline tooling — CSV load/export and online column update.

Reference parity (SURVEY.md §2.4):

- CSVSegmentLoader / CSVSegmentExporter (indexr-server
  tool/CSVSegmentLoader.java:50,192-211; CSVSegmentExporter.java):
  CSV ⇄ segments with an explicit schema and custom delimiter.
- UpdateColumnJob (tool/UpdateColumnJob.java:73-113, config
  UpdateColSchema.java:12-41): offline rewrite with ADDCOL / DELCOL /
  ALTCOL, where a new/altered column's value is a SQL *expression*
  over the existing columns (e.g. `"if((a > 100), a - 100, a + 100)"`)
  evaluated by the embedded engine. Here the expression is any Spark
  SQL expression — a strict superset — and the rewrite commits as a
  snapshot version (read → withColumn(expr) → write new files →
  manifest bump), so a reader pinned to the prior version is never
  broken mid-scan and old versions stay time-travelable until vacuum.

Scale notes: the column update rewrites data once, distributed; at
100 TB you run it per partition-directory (exactly how the MR job
sharded by segment). CSV load goes straight to dim-sorted segments so
the result is immediately prunable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indexr_spark.sources.catalog import TableSpec, apply_defaults
from indexr_spark.sources.segments import write_segments

from indexr_spark.sources.snapshots import ensure_snapshot, read_table, write_snapshot

# the MERGE tool lives next to upsert_snapshot, whose write path and
# sidecar-scoped plan it shares; re-exported with the other tools
from indexr_spark.sources.snapshots import upsert_segments  # noqa: F401


def csv_load(
    spark: SparkSession,
    csv_path: str,
    spec: TableSpec,
    out_path: str,
    delimiter: str = ",",
    header: bool = False,
) -> int:
    """CSVSegmentLoader parity: CSV (explicit schema, custom
    delimiter) → dim-sorted segments + sidecar. Returns rows loaded."""
    df = (
        spark.read.schema(spec.schema())
        .option("delimiter", delimiter)
        .option("header", str(header).lower())
        .csv(csv_path)
    )
    df = apply_defaults(df, spec)
    write_segments(df, out_path, sort_by=spec.sort_by or None)
    return read_table(spark, out_path).count()


def csv_export(
    spark: SparkSession,
    table_path: str,
    csv_path: str,
    delimiter: str = ",",
    header: bool = False,
) -> None:
    """CSVSegmentExporter parity: segments → CSV. Exports the table's
    live rows (snapshots.read_table): after a snapshot rewrite, the
    current version, never the retired files still on disk."""
    (
        read_table(spark, table_path)
        .write.mode("overwrite")
        .option("delimiter", delimiter)
        .option("header", str(header).lower())
        .csv(csv_path)
    )


def describe_segments(spark: SparkSession, table_path: str) -> DataFrame:
    """Segment inspection (the reference ships a segment-inspect tool
    on its embedded engine): one row per (file, column) with rows and
    min/max/null stats, straight from the sidecars — no data read.
    Lists the live files (snapshots.live_stats), so files appended
    since the last table-sidecar refresh appear too."""
    from indexr_spark.sources.snapshots import live_stats

    rows = []
    for fpath, stats in live_stats(table_path).items():
        for col, s in stats.items():
            rows.append((os.path.basename(fpath), col, str(s.min), str(s.max), s.null_count))
    return spark.createDataFrame(
        rows, "file string, column string, min string, max string, null_count long"
    )


def optimize_segments(
    spark: SparkSession,
    table_path: str,
    target_rows_per_file: int = 1 << 20,
    sort_by: list[str] | None = None,
) -> tuple[int, int]:
    """OPTIMIZE-style small-file compaction: rewrite the table into
    ceil(rows / target) right-sized segments, preserving (or imposing)
    the sort order so stats stay tight. Streaming ingest and frequent
    upserts both leave small files; at 100 TB this runs per partition
    directory on a maintenance schedule. Point it AT one partition
    directory for hive-partitioned tables — run on the table root it
    would flatten the partition columns into the data files. Returns
    (files_before, files_after)."""
    # ensure_snapshot returns the CURRENT version (existing or the
    # freshly bootstrapped v1) — no second manifest scan needed
    base = ensure_snapshot(table_path)
    df = read_table(spark, table_path)
    files_before = df.inputFiles()
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    # conflict-checked: compaction rewrites the base version's data
    write_snapshot(df, table_path, sort_by, num_segments=n_files, expect_parent=base)
    after = len(read_table(spark, table_path).inputFiles())
    return len(files_before), after


def update_column(
    spark: SparkSession,
    table_path: str,
    mode: str,
    column: str,
    value_expr: str | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """UpdateColumnJob parity: ADDCOL / DELCOL / ALTCOL via a
    distributed rewrite. `value_expr` is a Spark SQL expression over
    the existing columns (UpdateColSchema.java's `value`).

    The rewrite commits as a snapshot version: new files land first,
    the manifest pointer flips last — the job-level atomicity the MR
    implementation got from task commits, plus pinned-reader safety
    and time travel the directory swap could not give.
    """
    mode = mode.upper()
    # ensure_snapshot returns the CURRENT version (existing or the
    # freshly bootstrapped v1) — no second manifest scan needed
    base = ensure_snapshot(table_path)
    df = read_table(spark, table_path)
    if mode == "ADDCOL":
        if value_expr is None:
            raise ValueError("ADDCOL requires value_expr")
        if column in df.columns:
            raise ValueError(f"column {column} already exists")
        out = df.withColumn(column, F.expr(value_expr))
    elif mode == "ALTCOL":
        if value_expr is None:
            raise ValueError("ALTCOL requires value_expr")
        if column not in df.columns:
            raise ValueError(f"column {column} does not exist")
        out = df.withColumn(column, F.expr(value_expr))
    elif mode == "DELCOL":
        if column not in df.columns:
            raise ValueError(f"column {column} does not exist")
        out = df.drop(column)
    else:
        raise ValueError(f"unknown mode {mode!r}; expected ADDCOL/ALTCOL/DELCOL")

    # conflict-checked: the rewrite derives from `base`
    write_snapshot(out, table_path, sort_by, expect_parent=base)
