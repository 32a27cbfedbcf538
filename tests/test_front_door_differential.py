"""Differential tests for `Catalog.sql` over snapshot-managed tables:
seeded predicates run through the pruning front door and as plain
`spark.sql` over the unpruned read (`read_hybrid`, or `read_table` for
a table taken through the rewrite tools) must return the same rows,
and no file the front door skipped may hold a matching row."""

from __future__ import annotations

import datetime
import os
import random

from pyspark.sql import functions as F

from indexr_spark.sources import snapshots as S
from indexr_spark.sources.catalog import Catalog, ColumnSpec, TableSpec
from indexr_spark.sources.segments import write_segments

COLS = "k, d, s, v"
DAY0 = datetime.date(2020, 1, 1)


def _spec(name: str, index: bool = False) -> TableSpec:
    return TableSpec(
        name=name,
        columns=[
            ColumnSpec("k", "int"),
            ColumnSpec("d", "date"),
            ColumnSpec("s", "varchar", index=index),
            ColumnSpec("v", "bigint", default=7),
        ],
        sort_by=["k"],
    )


def _rows(lo: int, hi: int) -> list[tuple]:
    """k-sorted rows whose date and string track k, so every column
    prunes; v is NULL (read as its default 7) on every 17th row."""
    return [
        (k, DAY0 + datetime.timedelta(days=k), f"s{k // 100}", None if k % 17 == 0 else k % 10)
        for k in range(lo, hi)
    ]


def _hybrid_table(spark, cat: Catalog, name: str, base: int) -> None:
    """Historical segments adopted by ensure_snapshot, one
    append_snapshot, then one realtime batch."""
    spec = _spec(name)
    cat.save(spec)
    tdir = cat.table_dir(name)
    hist = spark.createDataFrame(_rows(base, base + 400), spec.schema())
    write_segments(hist, tdir, sort_by=["k"], num_segments=4)
    S.ensure_snapshot(tdir)
    delta = spark.createDataFrame(_rows(base + 1000, base + 1020), spec.schema())
    S.append_snapshot(delta, tdir, sort_by=["k"])
    spark.createDataFrame(_rows(base + 2000, base + 2005), spec.schema()).write.parquet(
        os.path.join(cat.rt_dir(name), "batch=1")
    )


def _date(k: int) -> str:
    return f"DATE'{DAY0 + datetime.timedelta(days=k)}'"


def _atom(rng: random.Random, base: int) -> str:
    k = base + rng.choice([rng.randrange(0, 400), rng.randrange(1000, 1020), rng.randrange(2000, 2005)])
    lo, hi = sorted((k, k + rng.randrange(1, 150)))
    op = rng.choice(["=", "<", "<=", ">", ">="])
    return rng.choice(
        [
            f"k {op} {k}",
            f"k BETWEEN {lo} AND {hi}",
            f"k IN ({k}, {k + 250}, {base + 1005})",
            f"d {op} {_date(k)}",
            f"d BETWEEN {_date(lo)} AND {_date(hi)}",
            f"s = 's{(k - base) // 100}'",
            f"s IN ('s{(k - base) // 100}', 's{rng.randrange(0, 25)}')",
            f"s {op} 's{rng.randrange(0, 5)}'",
            f"v = {rng.choice([7, 3])}",
        ]
    )


def _predicate(rng: random.Random, base: int, depth: int = 2) -> str:
    if depth == 0 or rng.random() < 0.3:
        return _atom(rng, base)
    shape = rng.choice(["AND", "OR", "NOT"])
    if shape == "NOT":
        return f"NOT ({_predicate(rng, base, depth - 1)})"
    return f"({_predicate(rng, base, depth - 1)}) {shape} ({_predicate(rng, base, depth - 1)})"


def _check(spark, cat: Catalog, name: str, where: str, table=None) -> int:
    """Catalog.sql equals plain spark.sql over `table` (default:
    read_hybrid), and no file the front door skipped holds a matching
    row; returns the number of skipped files."""
    ref = f"ref_{name}"
    table = cat.read_hybrid(spark, name) if table is None else table
    table.withColumn("_file", F.input_file_name()).createOrReplaceTempView(ref)
    want = spark.sql(f"SELECT {COLS}, _file FROM {ref} WHERE {where}").collect()
    got = cat.sql(spark, f"SELECT {COLS} FROM {name} WHERE {where}").collect()
    assert sorted(map(tuple, got)) == sorted(tuple(r)[:4] for r in want), where
    result = cat.last_prune.get(name)
    skipped = {os.path.realpath(f) for f in (result.skipped if result else [])}
    matched = {os.path.realpath(r._file.removeprefix("file:")) for r in want}
    assert not skipped & matched, (where, skipped & matched)
    return len(skipped)


def test_front_door_matches_unpruned_hybrid_read(spark, tmp_path):
    """The benchmark's table name: its realtime pool `events_rt_rt`
    starts with the table's own dir name and must never be taken for
    the historical pool."""
    cat = Catalog(str(tmp_path))
    _hybrid_table(spark, cat, "events_rt", 0)
    rng = random.Random(11)
    skips = [_check(spark, cat, "events_rt", _predicate(rng, 0)) for _ in range(12)]
    # hand-written selective shapes: each must skip historical files
    for where in ("k = 1", "k BETWEEN 1003 AND 1010", "d < DATE'2020-02-01'", "s IN ('s3')"):
        assert _check(spark, cat, "events_rt", where) > 0, where
    assert sum(skips) > 0


def test_front_door_maps_prefix_named_tables_apart(spark, tmp_path):
    """`ab` and `abc`: a string-prefix match would file `abc`'s
    relation under `ab`, so `abc` would never prune."""
    cat = Catalog(str(tmp_path))
    _hybrid_table(spark, cat, "ab", 0)
    _hybrid_table(spark, cat, "abc", 5000)
    rng = random.Random(12)
    for _ in range(4):
        for name, base in (("ab", 0), ("abc", 5000)):
            _check(spark, cat, name, _predicate(rng, base))
    assert _check(spark, cat, "abc", "k >= 5350") > 0
    assert "ab" not in cat.last_prune
    assert _check(spark, cat, "ab", "k < 50") > 0
    assert "abc" not in cat.last_prune
    # one query over both: each relation prunes its own table
    out = cat.sql(
        spark,
        "SELECT count(*) AS n FROM ab JOIN abc ON abc.k = ab.k + 5000 "
        "WHERE ab.k < 50 AND abc.k < 5050",
    )
    assert out.collect()[0].n == 50
    assert cat.last_prune["ab"].skipped and cat.last_prune["abc"].skipped


def _spread(rows: list[tuple]) -> list[tuple]:
    """s becomes 'a' or 'z' on two rows in three, so every file's s
    range spans 'a'..'z' and only the term index narrows s = / IN."""
    return [(k, d, ("a", "z", s)[k % 3], v) for k, d, s, v in rows]


def test_front_door_over_rewritten_indexed_table(spark, tmp_path):
    """A table taken through update_column, appends, upsert_segments
    and delete_matching, then build_indexes: the front door equals
    spark.sql over read_table, and skips files by term."""
    from indexr_spark.sources.catalog import apply_defaults
    from indexr_spark.sources.tools import update_column, upsert_segments

    cat = Catalog(str(tmp_path))
    spec = _spec("rw", index=True)
    cat.save(spec)
    tdir = cat.table_dir("rw")

    def frame(rows):
        return spark.createDataFrame(_spread(rows), spec.schema())

    # the appends add files after update_column's full rewrite, and each
    # later rewrite touches one file's key range, so several files stay live
    write_segments(frame(_rows(0, 400)), tdir, sort_by=["k"], num_segments=4)
    update_column(spark, tdir, "ALTCOL", "v", "v + 1", sort_by=["k"])
    for lo in (400, 500, 600):
        S.append_snapshot(frame(_rows(lo, lo + 100)), tdir, sort_by=["k"])
    updates = [(k, d, "s9", 1) for k, d, _, _ in _rows(650, 700) if k in (650, 662)]
    upsert_segments(spark, tdir, frame(_rows(700, 706) + updates), ["k"], ["k"])
    keys = spark.createDataFrame([(k,) for k in (7, 8, *range(300, 311))], "k int")
    S.delete_matching(spark, tdir, keys, ["k"], sort_by=["k"])
    cat.build_indexes(spark, "rw")

    live = apply_defaults(S.read_table(spark, tdir), spec)
    rng = random.Random(13)
    for _ in range(10):
        _check(spark, cat, "rw", _predicate(rng, 0), live)
    stats = S.live_stats(tdir)
    assert len(stats) >= 4
    for where, lit in (("s = 's2'", "s2"), ("s IN ('s5', 's9')", "s5"), ("s = 's9'", "s9")):
        assert _check(spark, cat, "rw", where, live) > 0, where
        # a file skipped although its s range holds the literal
        skipped = cat.last_prune["rw"].skipped
        assert any(stats[f]["s"].min <= lit <= stats[f]["s"].max for f in skipped), where
