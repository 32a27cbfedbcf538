"""Segment writer + stats sidecar + pruned reads.

The reference's segment layout invariants (SURVEY.md §2.4):

- SortedSegmentGenerator (storage/SortedSegmentGenerator.java:26-56):
  segments are written dim-sorted so the pack min/max indexes are
  tight → `repartitionByRange(dims).sortWithinPartitions(dims)`.
- Rollup-on-write (AggSchema; rt/UTF8Row.java:39-64): rows with equal
  dims merge, metrics combined by {sum, first, last, min, max} →
  `groupBy(dims).agg(...)` with first/last pinned to an explicit
  event-order column (min_by/max_by) for determinism.
- Pack size 65,536 rows (DataPack.java:36-38) → Parquet row-group
  sizing; index-flagged string columns get Parquet Bloom filters
  (the CMap/outer-index replacement, SURVEY.md §2.3).
- Per-segment ColumnNode min/max (storage/ColumnNode.java:12-22) →
  the `_indexr_stats.json` sidecar: per-file, per-column min/max
  folded from parquet row-group footers, powering plans/rough_check
  file pruning before a scan is even planned.

Scale: the sidecar is written from parquet footers only (no data
re-read); at 100 TB the fold runs as one metadata pass per new
segment batch and the pruner reads one small JSON per table.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indexr_spark.plans.rough_check import ColStats, FileStats, PruneResult, RCOperator, prune
from indexr_spark.sources.catalog import AggSchema, Metric
from indexr_spark.sources.snapshots import live_stats, read_table

SIDECAR_NAME = "_indexr_stats.json"


def rollup_aggs(
    metrics: list[Metric], first_by: str | None, last_by: str | None = None
) -> list:
    """The AggType rollup (AggType.java:43-85) as one aggregation per
    metric: sum/min/max, and first/last as the value at the smallest
    `first_by` / largest `last_by` (default: `first_by`). min_by/max_by
    are associative, so any merge tree of rolled-up groups agrees —
    compaction re-merges by the carried order bounds."""
    last_by = last_by or first_by
    if first_by is None and any(m.agg in ("first", "last") for m in metrics):
        raise ValueError("first/last rollup requires order_col")
    out = []
    for m in metrics:
        if m.agg == "sum":
            out.append(F.sum(m.name).alias(m.name))
        elif m.agg == "min":
            out.append(F.min(m.name).alias(m.name))
        elif m.agg == "max":
            out.append(F.max(m.name).alias(m.name))
        elif m.agg == "first":
            out.append(F.min_by(m.name, F.col(first_by)).alias(m.name))
        elif m.agg == "last":
            out.append(F.max_by(m.name, F.col(last_by)).alias(m.name))
    return out


def apply_rollup(df: DataFrame, agg: AggSchema, order_col: str | None = None) -> DataFrame:
    """Rollup rows with equal dims. first/last need a total order;
    `order_col` pins it (the reference uses arrival order, which a
    distributed batch doesn't have)."""
    if not agg.grouping:
        return df
    return df.groupBy(*agg.dims).agg(*rollup_aggs(agg.metrics, order_col))


ZORDER_BITS = 16


def zorder_value(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Z-value (Morton code) column for multi-dimensional clustering.

    Each numeric column is min/max-normalized to a `bits`-wide integer
    (one tiny global agg, broadcast as literals), then the bit planes
    are interleaved — columns contribute alternating bits, so sorting
    by the z-value clusters ALL participating columns at once and the
    per-file min/max stats stay tight on EVERY z-ordered column, not
    just the leading sort key. This is what single-key dim-sorting
    (SortedSegmentGenerator) cannot give a second predicate column.

    Returns (zcol_expression, df) — df unchanged; caller attaches it.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top),
            ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top).cast("long"),
        )
        for b in range(bits):
            # bit b of column i lands at interleaved position b*n + i
            z = z + (
                F.shiftleft(
                    F.shiftright(scaled, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + i,
                )
            )
    return z


def write_segments(
    df: DataFrame,
    path: str,
    sort_by: list[str] | None = None,
    agg: AggSchema | None = None,
    order_col: str | None = None,
    bloom_cols: list[str] | None = None,
    row_group_bytes: int = 128 << 20,
    num_segments: int | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    file_format: str = "parquet",
    zorder_by: list[str] | None = None,
) -> None:
    """SortedSegmentGenerator parity: rollup → range-partition on the
    sort dims → sort within each segment → parquet/orc with row-group
    sizing + optional Bloom filters → stats sidecar.

    partition_by adds hive-style partition directories — the
    Rt2HisOnHive layout (Rt2HisOnHive.java:47-60: realtime segments
    land under historical partition dirs); Spark prunes partitions
    before the rough-check pruner even runs.

    zorder_by (mutually exclusive with sort_by) clusters segments on a
    Morton code over several numeric columns, so the sidecar/row-group
    pruning cascade skips on any of them.
    """
    if file_format not in ("parquet", "orc"):
        raise ValueError(f"unsupported format {file_format!r}")
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    if agg is not None:
        df = apply_rollup(df, agg, order_col)
        sort_by = sort_by or (list(agg.dims) if not zorder_by else None)
    if zorder_by:
        df = df.withColumn("_zval", zorder_value(df, zorder_by))
        if num_segments:
            df = df.repartitionByRange(num_segments, F.col("_zval"))
        else:
            df = df.repartitionByRange(F.col("_zval"))
        df = df.sortWithinPartitions("_zval").drop("_zval")
    elif sort_by:
        cols = [F.col(c) for c in sort_by]
        if num_segments:
            df = df.repartitionByRange(num_segments, *cols)
        else:
            df = df.repartitionByRange(*cols)
        df = df.sortWithinPartitions(*cols)
    elif num_segments:
        df = df.repartition(num_segments)

    # Row-group sizing: the reference's 65,536-row pack is its unit of
    # compression/index/vectorized-read (DataPack.java:36-38); Parquet's
    # equivalent knob is the row-group byte size. 128 MiB default —
    # the scan/skip granularity that holds up at 100 TB.
    writer = df.write.mode(mode).option("parquet.block.size", str(row_group_bytes))
    for c in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, file_format)(path)
    if file_format == "parquet":
        write_sidecar(path)
    else:
        # ORC stripe stats aren't readable via pyarrow; fold per-file
        # min/max with one distributed pass instead.
        write_sidecar_spark(df.sparkSession, path)


TERM_INDEX_DIR = "_indexr_term_index"
CMAP_NAME = "_indexr_cmap.json"


def build_string_indexes(
    spark: SparkSession, path: str, columns: list[str]
) -> dict[str, int]:
    """Both string indexes of `columns` from one distributed pass:
    the term→file inverted index (the reference's OuterIndex_Inverted,
    vlt OuterIndex_Inverted.java:33-36, posting unit = segment file)
    for =/IN pruning, and the per-(file, column) character-presence
    cmap (RSIndex_CMap, index/RSIndex_CMap.java:20-25, reduced to its
    position-less core) for `%needle%` pruning: a file missing any
    needle character provably has no match.

    The pass explodes the columns into distinct (col, term, file)
    triples and collects them — |distinct terms × files touched|,
    metadata-sized by design — then writes each column's postings
    (NULL terms kept) with pyarrow and folds the cmap from the same
    triples. The pass reads the table's live files
    (snapshots.read_table), so a rebuild after a rewrite indexes
    exactly the files a query can scan; until then, new files without
    postings or a summary degrade to scan, never to wrong answers.
    Returns the posting count per column."""
    cells = F.array(
        *[F.struct(F.lit(c).alias("col"), F.col(c).alias("term")) for c in columns]
    )
    triples = (
        read_table(spark, path)
        .select(
            F.inline(cells),
            F.regexp_replace(F.input_file_name(), "^file:", "").alias("file"),
        )
        .distinct()
        .collect()
    )
    postings: dict[str, tuple[list, list]] = {c: ([], []) for c in columns}
    cmap: dict[str, dict[str, set]] = {}
    for col, term, fname in triples:
        postings[col][0].append(term)
        postings[col][1].append(fname)
        if term is not None:
            rel = os.path.relpath(fname, path)
            cmap.setdefault(rel, {}).setdefault(col, set()).update(term)
    for col, (terms, files) in postings.items():
        out = os.path.join(path, TERM_INDEX_DIR, col)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        table = pa.table(
            {"term": pa.array(terms, pa.string()), "file": pa.array(files, pa.string())}
        )
        # zstd, as the session writes parquet; no Arrow schema blob,
        # which would only add bytes to two plain string columns
        pq.write_table(
            table,
            os.path.join(out, "postings.parquet"),
            compression="zstd",
            store_schema=False,
        )
    files_out = {
        rel: {c: "".join(sorted(chars)) for c, chars in cols.items()}
        for rel, cols in cmap.items()
    }
    _atomic_json_write(os.path.join(path, CMAP_NAME), {"version": 1, "files": files_out})
    return {c: len(terms) for c, (terms, _files) in postings.items()}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) table write — the co-located-join
    layout. Both sides of a recurring fact-fact join written with the
    same bucket spec join WITHOUT a shuffle: each bucket pairs with its
    counterpart directly, and bucket-local sortBy removes the sort too.
    At 100 TB this turns the nightly big-join's full-data exchange into
    a metadata decision. (The reference delegates all joins to host
    engines — this is the Spark-native answer for the joins it never
    had; segment files remain plain parquet under the warehouse.)"""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def _jsonable(v: Any) -> Any:
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _atomic_json_write(final: str, payload: dict) -> None:
    """Atomic publish (temp + rename): a reader racing this write must
    see the old file or the new one, never a truncated one — plain
    open("w") exposes an empty file mid-write (caught live by the
    lock-free concurrent-commit test). os.replace is atomic on POSIX;
    on an object store the equivalent is the PUT itself."""
    tmp = f"{final}.tmp.{os.getpid()}.{threading.get_ident()}"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    os.replace(tmp, final)


def write_sidecar(path: str, files_rel: list[str] | None = None) -> dict:
    """Fold parquet row-group footer stats into per-file min/max —
    ColumnNode.java:33-60's fold of pack min/max, at file grain.
    Metadata-only: no row data is read.

    `files_rel` restricts the sidecar to exactly those table-relative
    files (the snapshot-commit path: the manifest says what is live).
    Entries already present in the existing sidecar are reused, so a
    commit re-reads footers only for files new in this version."""
    prev: dict[str, dict] = {}
    if files_rel is not None and os.path.exists(os.path.join(path, SIDECAR_NAME)):
        # The sidecar is a derived cache: if a concurrent committer is
        # mid-replace (or the file is damaged), recompute every footer
        # instead of failing the commit.
        try:
            with open(os.path.join(path, SIDECAR_NAME)) as f:
                prev = {e["path"]: e for e in json.load(f).get("files", [])}
        except (ValueError, OSError, KeyError):
            prev = {}
    if files_rel is not None:
        targets = [os.path.join(path, rel) for rel in sorted(files_rel)]
    else:
        targets = [
            os.path.join(root, name)
            for root, _dirs, names in os.walk(path)
            for name in sorted(names)
            if name.endswith(".parquet")
        ]
    files: list[dict] = []
    for fpath in targets:
        rel = os.path.relpath(fpath, path)
        if rel in prev:
            files.append(prev[rel])
            continue
        files.append(_file_stats_entry(path, fpath))
    sidecar = {"version": 1, "files": files}
    _atomic_json_write(os.path.join(path, SIDECAR_NAME), sidecar)
    return sidecar


def _file_stats_entry(path: str, fpath: str) -> dict:
    """One sidecar entry from a parquet footer."""
    meta = pq.ParquetFile(fpath).metadata
    cols: dict[str, dict] = {}
    # Columns whose fold can't be trusted: some row group has
    # non-null values but no min/max stats. An ALL-NULL group
    # (no min/max, but a null_count covering every row) is
    # fine — it contributes no values, only its null count.
    # Dropping such groups entirely would leave the file
    # claiming null_count=0 while holding nulls, making RS.ALL
    # verdicts unsound.
    poisoned: set[str] = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            cname = col.path_in_schema
            st = col.statistics
            if st is None:
                poisoned.add(cname)
                continue
            nulls = st.null_count if st.null_count is not None else group.num_rows
            if not st.has_min_max:
                if st.null_count is not None and st.null_count >= group.num_rows:
                    # all-null group: fold the null count only
                    cur = cols.get(cname)
                    if cur is None:
                        cols[cname] = {"min": None, "max": None, "null_count": nulls}
                    else:
                        cur["null_count"] += nulls
                else:
                    poisoned.add(cname)
                continue
            cur = cols.get(cname)
            mn, mx = st.min, st.max
            if cur is None:
                cols[cname] = {"min": mn, "max": mx, "null_count": nulls}
            elif cur["min"] is None:
                cur["min"], cur["max"] = mn, mx
                cur["null_count"] += nulls
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
                cur["null_count"] += nulls
    for cname in poisoned:
        cols.pop(cname, None)
    cols = {k: v for k, v in cols.items() if v["min"] is not None}
    return {
        "path": os.path.relpath(fpath, path),
        "num_rows": meta.num_rows,
        "columns": {
            k: {
                "min": _jsonable(v["min"]),
                "max": _jsonable(v["max"]),
                "null_count": v["null_count"],
                "type": type(v["min"]).__name__,
            }
            for k, v in cols.items()
        },
    }


def write_sidecar_spark(spark: SparkSession, path: str) -> dict:
    """Format-agnostic sidecar: per-file min/max/null-count folded by
    one distributed aggregation over input_file_name() of the table's
    scan (snapshots.read_table, which takes the format from the files'
    suffix). One data pass (vs. the parquet footer path's zero) — still
    a metadata-sized output, and the only option for formats whose
    footers pyarrow can't read (ORC)."""
    df = read_table(spark, path)
    aggs = []
    for f in df.schema.fields:
        aggs.append(F.min(f.name).alias(f"min_{f.name}"))
        aggs.append(F.max(f.name).alias(f"max_{f.name}"))
        aggs.append(
            F.sum(F.col(f.name).isNull().cast("long")).alias(f"nulls_{f.name}")
        )
    rows = (
        df.groupBy(F.input_file_name().alias("_file"))
        .agg(F.count("*").alias("_rows"), *aggs)
        .collect()
    )
    files = []
    for r in rows:
        fpath = r["_file"].removeprefix("file://")
        cols = {}
        for f in df.schema.fields:
            mn, mx = r[f"min_{f.name}"], r[f"max_{f.name}"]
            if mn is None:
                continue
            cols[f.name] = {
                "min": _jsonable(mn),
                "max": _jsonable(mx),
                "null_count": int(r[f"nulls_{f.name}"]),
                "type": type(mn).__name__,
            }
        files.append(
            {
                "path": os.path.relpath(fpath, path),
                "num_rows": int(r["_rows"]),
                "columns": cols,
            }
        )
    sidecar = {"version": 1, "files": files}
    _atomic_json_write(os.path.join(path, SIDECAR_NAME), sidecar)
    return sidecar


_PARSERS = {
    "datetime": dt.datetime.fromisoformat,
    "date": dt.date.fromisoformat,
}


def load_sidecar(path: str) -> tuple[dict[str, FileStats], frozenset[str]]:
    """Sidecar → ({absolute file path: {col: ColStats}}, the zero-row
    files among them); the optional cmap char-presence summary and
    term-index distinct-value sets are merged in when present (files
    or columns they don't cover keep chars/terms=None → must-scan,
    never wrong)."""
    with open(os.path.join(path, SIDECAR_NAME)) as f:
        raw = json.load(f)
    cmap: dict[str, dict[str, str]] = {}
    if os.path.exists(os.path.join(path, CMAP_NAME)):
        with open(os.path.join(path, CMAP_NAME)) as f:
            cmap = json.load(f).get("files", {})
    terms = _load_term_sets(path)
    out: dict[str, FileStats] = {}
    for entry in raw["files"]:
        stats: FileStats = {}
        fpath = os.path.join(path, entry["path"])
        fchars = cmap.get(entry["path"], {})
        fterms = terms.get(fpath, {})
        for col, s in entry["columns"].items():
            parser = _PARSERS.get(s.get("type"))
            mn, mx = s["min"], s["max"]
            if parser is not None:
                mn, mx = parser(mn), parser(mx)
            stats[col] = ColStats(
                min=mn,
                max=mx,
                null_count=s["null_count"],
                chars=frozenset(fchars[col]) if col in fchars else None,
                terms=fterms.get(col),
            )
        out[fpath] = stats
    empty = frozenset(
        os.path.join(path, e["path"]) for e in raw["files"] if e.get("num_rows") == 0
    )
    return out, empty


def _postings_files(path: str) -> list[tuple[str, str]]:
    """(column, path) of every term-index postings file."""
    idx_root = os.path.join(path, TERM_INDEX_DIR)
    if not os.path.isdir(idx_root):
        return []
    return [
        (col, os.path.join(idx_root, col, name))
        for col in sorted(os.listdir(idx_root))
        if os.path.isdir(os.path.join(idx_root, col))
        for name in sorted(os.listdir(os.path.join(idx_root, col)))
        if name.endswith(".parquet")
    ]


def index_stamp(path: str) -> tuple:
    """(path, mtime_ns, size) of every file load_sidecar reads — the
    sidecar, the cmap and each postings file — so a cache of its
    output can tell when any of them was rewritten."""
    names = [os.path.join(path, SIDECAR_NAME), os.path.join(path, CMAP_NAME)]
    stamp = []
    for name in names + [f for _col, f in _postings_files(path)]:
        try:
            st = os.stat(name)
        except FileNotFoundError:
            continue
        stamp.append((name, st.st_mtime_ns, st.st_size))
    return tuple(stamp)


def _load_term_sets(path: str) -> dict[str, dict[str, frozenset]]:
    """Term index postings → {abs file: {col: distinct values}}.
    Footer-less metadata read via pyarrow (no Spark job): postings are
    |distinct terms × files|, dictionary-column-sized by design."""
    out: dict[str, dict[str, set]] = {}
    for col, fpath in _postings_files(path):
        tbl = pq.read_table(fpath)
        for term, fname in zip(
            tbl.column("term").to_pylist(), tbl.column("file").to_pylist()
        ):
            # postings carry uri-ish paths (file: scheme stripped,
            # possibly with extra leading slashes) — normalize to
            # match the sidecar's os.path joins
            fname = os.path.normpath(fname.removeprefix("file:"))
            out.setdefault(fname, {}).setdefault(col, set()).add(term)
    return {
        f: {c: frozenset(v) for c, v in cols.items()} for f, cols in out.items()
    }


def read_pruned(
    spark: SparkSession, path: str, predicate: RCOperator
) -> tuple[DataFrame, PruneResult]:
    """Rough-check file pruning + exact scan.

    Mirrors the reference's cascade (IndexRRecordReader.java:119-154):
    segment-level rough check drops files that can't match (NONE);
    surviving files are scanned with the exact predicate re-applied —
    row-group/page skipping inside the scan is Parquet's job. The
    stats are snapshots.live_stats: on a snapshot-managed table,
    exactly the live manifest's files, with a file appended since the
    last table-sidecar refresh checked against its batch sidecar (or
    scanned when none covers it). The kept files go through
    snapshots.read_table, so the frame has the live set's columns
    whether or not a file survives, in the files' own format. Returns
    the DataFrame plus the prune decision for observability.
    """
    result = prune(live_stats(path), predicate.optimize())
    df = read_table(spark, path, result.scan).filter(F.expr(predicate.to_spark_sql()))
    return df, result
