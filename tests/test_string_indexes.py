"""The fused string-index build (`build_string_indexes`): term
postings and cmap checked against a plain-Python reference read
straight from the segment files, pruning through `Catalog.sql` checked
against the unpruned scan, the Spark-job budget of one build, and the
stats cache picking up indexes built after a table's first query."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from indexr_spark.sources.catalog import Catalog, ColumnSpec, TableSpec
from indexr_spark.sources.segments import (
    CMAP_NAME,
    TERM_INDEX_DIR,
    _load_term_sets,
    write_segments,
)

# (k, s, t, p); each batch lands as one file per partition value.
# Every s-file spans "".."zzz" or holds only NULLs, so s min/max never
# narrows an equality — skips come from the term index and the cmap.
BATCHES = [
    [(1, "", "a😀b", "x"), (2, "héllo", None, "x"), (3, "zzz", "", "x")],
    [(4, "", None, "x"), (5, "a😀b", "mango", "x"), (6, "zzz", None, "x")],
    [(7, None, "héllo", "y"), (8, "", "x", "y"), (9, "zzz", None, "y"),
     (10, "mango", None, "y")],
    [(11, None, None, "y"), (12, None, "", "y")],
]
INDEXED = ["s", "t"]


def _catalog(spark, tmp_path) -> Catalog:
    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(
            name="t",
            columns=[
                ColumnSpec("k", "int"),
                ColumnSpec("s", "varchar", index=True),
                ColumnSpec("t", "varchar", index=True),
                ColumnSpec("p", "varchar"),
            ],
        )
    )
    for i, rows in enumerate(BATCHES):
        df = spark.createDataFrame(rows, "k int, s string, t string, p string")
        write_segments(
            df, cat.table_dir("t"), num_segments=1, partition_by=["p"],
            mode="overwrite" if i == 0 else "append",
        )
    return cat


def _data_files(path: str) -> list[str]:
    """Segment files, as Spark lists them: `_`/`.` entries are hidden."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return sorted(out)


def _reference(path: str):
    """Postings {col: {(term, file)}} and cmap {rel: {col: chars}}
    computed in plain Python from the segment files themselves."""
    postings: dict[str, set] = {c: set() for c in INDEXED}
    cmap: dict[str, dict[str, str]] = {}
    for f in _data_files(path):
        tbl = pq.read_table(f, columns=INDEXED)
        for col in INDEXED:
            terms = set(tbl.column(col).to_pylist())
            postings[col] |= {(term, f) for term in terms}
            values = [v for v in terms if v is not None]
            if values:
                chars = set().union(*map(set, values))
                cmap.setdefault(os.path.relpath(f, path), {})[col] = "".join(sorted(chars))
    return postings, cmap


def test_fused_build_matches_plain_python_reference(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    path = cat.table_dir("t")
    counts = cat.build_indexes(spark, "t")
    want_postings, want_cmap = _reference(path)
    assert len(_data_files(path)) == 4

    assert counts == {c: len(p) for c, p in want_postings.items()}
    for col in INDEXED:
        (name,) = os.listdir(os.path.join(path, TERM_INDEX_DIR, col))
        tbl = pq.read_table(os.path.join(path, TERM_INDEX_DIR, col, name))
        assert tbl.column_names == ["term", "file"]
        got = list(zip(tbl.column("term").to_pylist(), tbl.column("file").to_pylist()))
        assert len(got) == counts[col]  # distinct postings, no duplicates
        assert {(t, os.path.normpath(f)) for t, f in got} == want_postings[col]

    # NULL terms are postings too; "" gives an empty cmap entry; an
    # all-NULL file gets none
    want_terms = {}
    for col, pairs in want_postings.items():
        for term, f in pairs:
            want_terms.setdefault(f, {}).setdefault(col, set()).add(term)
    assert _load_term_sets(path) == {
        f: {c: frozenset(v) for c, v in cols.items()} for f, cols in want_terms.items()
    }
    with open(os.path.join(path, CMAP_NAME)) as fh:
        assert json.load(fh) == {"version": 1, "files": want_cmap}
    assert any(cols.get("t") == "" for cols in want_cmap.values())
    assert sum("s" in cols for cols in want_cmap.values()) == 3


def test_fused_indexes_prune_through_catalog_sql(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    cat.build_indexes(spark, "t")
    plain = cat.read(spark, "t")
    cases = [
        ("s = 'héllo'", F.col("s") == "héllo", True),
        ("s LIKE '%😀%'", F.col("s").contains("😀"), True),
        ("t = 'mango'", F.col("t") == "mango", True),
        ("s = ''", F.col("s") == "", False),
        ("s IN ('mango', 'a😀b')", F.col("s").isin("mango", "a😀b"), True),
    ]
    for where, expr, skips in cases:
        got = cat.sql(spark, f"SELECT k, s, t, p FROM t WHERE {where}").collect()
        want = plain.filter(expr).select("k", "s", "t", "p").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), where
        assert bool(cat.last_prune["t"].skipped) == skips, where


def test_build_indexes_job_budget(spark, tmp_path):
    """Two indexed string columns, one pass: at most 3 Spark jobs
    (schema read, distinct's shuffle, collect), not a chain of jobs
    per column."""
    cat = _catalog(spark, tmp_path)
    sc = spark.sparkContext
    group = "test_build_indexes_job_budget"
    sc.setJobGroup(group, "build_indexes job budget")
    try:
        assert list(cat.build_indexes(spark, "t")) == INDEXED
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, jobs


def test_stats_cache_sees_indexes_built_after_first_query(spark, tmp_path):
    """The prune cache must notice a later build_indexes: the cmap and
    postings are part of what load_sidecar merges."""
    cat = Catalog(str(tmp_path))
    cat.save(
        TableSpec(
            name="t",
            columns=[ColumnSpec("k", "int"), ColumnSpec("s", "varchar", index=True)],
        )
    )
    # both files span a..z in min/max; 'mango' lives only in one
    path = cat.table_dir("t")
    f1 = spark.createDataFrame([(1, "apple"), (2, "zebra")], "k int, s string")
    f2 = spark.createDataFrame([(3, "ant"), (4, "mango"), (5, "zoo")], "k int, s string")
    write_segments(f1, path, num_segments=1)
    write_segments(f2, path, num_segments=1, mode="append")

    q = "SELECT k FROM t WHERE s = 'mango'"
    assert [r.k for r in cat.sql(spark, q).collect()] == [4]
    assert not cat.last_prune["t"].skipped  # no index yet
    cat.build_indexes(spark, "t")
    assert [r.k for r in cat.sql(spark, q).collect()] == [4]
    assert len(cat.last_prune["t"].skipped) == 1


def test_cli_index_prints_posting_counts(spark, tmp_path, capsys):
    from indexr_spark.cli import main

    cat = _catalog(spark, tmp_path)
    assert main(["index", cat.root, "t"], spark=spark) == 0
    counts = {c: len(p) for c, p in _reference(cat.table_dir("t"))[0].items()}
    assert capsys.readouterr().out.strip().endswith(
        f"indexed columns: s ({counts['s']} postings), t ({counts['t']} postings)"
    )


def test_build_indexes_after_rewrite_covers_live_files(spark, tmp_path):
    """A rewrite retires every file it replaces; the rebuilt postings
    name exactly the live files, so term pruning comes back."""
    from indexr_spark.plans.rough_check import Equal
    from indexr_spark.sources.snapshots import files_of, latest_version
    from indexr_spark.sources.tools import update_column

    cat = Catalog(str(tmp_path))
    cols = [ColumnSpec("k", "int"), ColumnSpec("s", "varchar", index=True)]
    cat.save(TableSpec(name="t", columns=cols))
    tdir = cat.table_dir("t")
    rows = [(k, "a" if k % 2 else f"m{k // 25}") for k in range(100)]
    df = spark.createDataFrame(rows, "k int, s string")
    write_segments(df, tdir, sort_by=["k"], num_segments=4)
    update_column(spark, tdir, "ALTCOL", "k", "k + 0", sort_by=["k"])
    cat.build_indexes(spark, "t")
    live = {os.path.join(tdir, f) for f in files_of(tdir, latest_version(tdir))}
    indexed = {os.path.normpath(f) for f in _load_term_sets(tdir)}
    assert indexed == live
    # "b" lies inside the file's s range; only its postings rule it out
    assert cat.prune("t", Equal("s", "b")).skipped
