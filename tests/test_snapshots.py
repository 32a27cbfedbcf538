"""Snapshot manifest tests: atomic commits, snapshot isolation,
time travel, vacuum."""

from __future__ import annotations

import os

import pytest

from indexr_spark.sources.snapshots import (
    append_snapshot,
    latest_version,
    read_snapshot,
    upsert_snapshot,
    vacuum,
    write_snapshot,
)


def test_snapshot_lifecycle(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k int, s string, v double"
    )
    v1 = write_snapshot(base, path, sort_by=["k"])
    assert v1 == 1 and latest_version(path) == 1

    updates = spark.createDataFrame([(2, "B", 20.0), (4, "d", 4.0)], "k int, s string, v double")
    v2 = upsert_snapshot(spark, path, updates, ["k"], sort_by=["k"])
    assert v2 == 2

    # snapshot isolation / time travel: v1 still reads the old rows
    got_v1 = {tuple(r) for r in read_snapshot(spark, path, version=1).collect()}
    assert got_v1 == {(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)}
    got_v2 = {tuple(r) for r in read_snapshot(spark, path).collect()}
    assert got_v2 == {(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0), (4, "d", 4.0)}

    # a reader pinned BEFORE a commit sees its version even after it
    pinned = read_snapshot(spark, path, version=2)
    v3 = append_snapshot(
        spark.createDataFrame([(5, "e", 5.0)], "k int, s string, v double"), path, sort_by=["k"]
    )
    assert v3 == 3
    assert pinned.count() == 4
    assert read_snapshot(spark, path).count() == 5

    # vacuum keeps the newest two versions; v1's exclusive files go away
    deleted = vacuum(path, keep_versions=2, min_age_s=0)
    assert deleted, "expected v1-only files to be deleted"
    got_v3 = {tuple(r) for r in read_snapshot(spark, path).collect()}
    assert (5, "e", 5.0) in got_v3 and len(got_v3) == 5
    # expired version metadata is gone
    assert not os.path.exists(os.path.join(path, "_manifests", "v1.json"))


def test_snapshot_history_and_cli(spark, tmp_path, capsys):
    from indexr_spark.cli import main
    from indexr_spark.sources.snapshots import snapshot_history

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    write_snapshot(df, path)
    append_snapshot(spark.createDataFrame([(2, 2.0)], "k int, v double"), path)

    hist = {
        (r.version, r.is_latest)
        for r in snapshot_history(spark, path).collect()
    }
    assert hist == {(1, False), (2, True)}

    assert main(["history", path], spark=spark) == 0
    assert "true" in capsys.readouterr().out
    assert main(["vacuum", path, "--keep", "1"]) == 0
    assert "vacuumed" in capsys.readouterr().out
    assert read_snapshot(spark, path).count() == 2


def test_snapshot_sink_exactly_once(spark, tmp_path):
    """Streaming snapshot sink: each epoch commits atomically; a
    retried epoch is a no-op (exactly-once on top of checkpointed
    sources); the rt table is time-travelable per batch."""
    from indexr_spark.sources.catalog import ColumnSpec, TableSpec
    from indexr_spark.streaming.ingest import snapshot_sink

    spec = TableSpec(
        name="t",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    sdir = str(tmp_path / "rt_snap")
    sink = snapshot_sink(spec, sdir)

    b0 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    b1 = spark.createDataFrame([(3, 3.0)], "k int, v double")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # simulated retry of epoch 1 — must not double-append

    assert latest_version(sdir) == 2
    got = {tuple(r) for r in read_snapshot(spark, sdir).collect()}
    assert got == {(1, 1.0), (2, 2.0), (3, 3.0)}
    # time travel to the first batch
    got_v1 = {tuple(r) for r in read_snapshot(spark, sdir, version=1).collect()}
    assert got_v1 == {(1, 1.0), (2, 2.0)}

    # BURIED-EPOCH replay (reachable since concurrent appends became
    # supported): a non-streaming append lands after epoch 1, pushing
    # the epoch key one manifest down. A replay of epoch 1 must STILL
    # be a no-op — the guard scans all live manifests for the max
    # epoch, not just the latest one.
    from indexr_spark.sources.snapshots import append_snapshot

    other = spark.createDataFrame([(9, 9.0)], "k int, v double")
    append_snapshot(other, sdir)  # no epoch meta
    n_before = read_snapshot(spark, sdir).count()
    sink(b1, 1)  # late replay of epoch 1
    assert read_snapshot(spark, sdir).count() == n_before  # no double rows


def test_concurrent_commits_serialize(tmp_path):
    """Racing committers must end with LATEST at the highest committed
    version and the pruning sidecar describing exactly that version's
    file set — the loser finishing last may not shadow the winner's
    LATEST or sidecar (the check-then-replace race the commit lock
    closes)."""
    import json
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from indexr_spark.sources.segments import SIDECAR_NAME
    from indexr_spark.sources.snapshots import _commit, _load_manifest

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "data"))
    rels = []
    for i in range(8):
        rel = os.path.join("data", f"f{i}.parquet")
        pq.write_table(pa.table({"k": [i]}), os.path.join(path, rel))
        rels.append(rel)

    barrier = threading.Barrier(8)
    errors: list[Exception] = []

    def commit_one(rel: str):
        try:
            barrier.wait()
            _commit(path, [rel])
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [
        threading.Thread(target=commit_one, args=(r,)) for r in rels
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    top = latest_version(path)
    versions = {
        int(n[1:-5])
        for n in os.listdir(os.path.join(path, "_manifests"))
        if n.startswith("v") and n.endswith(".json")
    }
    # every committer got its own version; LATEST points at the max
    assert versions == set(range(1, 9))
    assert top == 8
    # the sidecar describes LATEST's file set, not a superseded one
    manifest = _load_manifest(path, top)
    with open(os.path.join(path, SIDECAR_NAME)) as f:
        sidecar_files = sorted(e["path"] for e in json.load(f)["files"])
    assert sidecar_files == sorted(manifest["files"])
    # the lock is released
    assert not os.path.exists(
        os.path.join(path, "_manifests", ".commit.lock")
    )


def test_concurrent_commits_without_lock(tmp_path, monkeypatch):
    """Object-store simulation: with the local commit lock DISABLED,
    correctness must come from the conditional manifest create alone
    (create-if-absent is the one primitive object stores offer —
    S3 If-None-Match, GCS ifGenerationMatch=0). Every racing committer
    must still be allocated a distinct version and no manifest may be
    overwritten."""
    import contextlib as _ctx
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from indexr_spark.sources import snapshots as S

    @_ctx.contextmanager
    def no_lock(path):
        yield

    monkeypatch.setattr(S, "_commit_lock", no_lock)

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "data"))
    rels = []
    for i in range(8):
        rel = os.path.join("data", f"f{i}.parquet")
        pq.write_table(pa.table({"k": [i]}), os.path.join(path, rel))
        rels.append(rel)

    barrier = threading.Barrier(8)
    results: dict[str, int] = {}
    errors: list[Exception] = []

    def commit_one(rel: str):
        try:
            barrier.wait()
            results[rel] = S._commit(path, [rel])
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=commit_one, args=(r,)) for r in rels]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # one distinct version per committer, nothing lost or overwritten
    assert sorted(results.values()) == list(range(1, 9))
    for rel, v in results.items():
        assert S._load_manifest(path, v)["files"] == [rel]
    assert S.latest_version(path) == 8


def test_latest_version_survives_crashed_pointer_bump(tmp_path):
    """A committer that dies between manifest create and the LATEST
    pointer bump must not hide its commit: the pointer is a cache and
    the manifest scan is the truth."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from indexr_spark.sources.snapshots import _commit, latest_version

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "data"))
    rel = os.path.join("data", "f0.parquet")
    pq.write_table(pa.table({"k": [1]}), os.path.join(path, rel))
    assert _commit(path, [rel]) == 1
    # simulate the crash: v2 manifest exists, pointer still says 1
    mdir = os.path.join(path, "_manifests")
    with open(os.path.join(mdir, "v2.json"), "x") as f:
        _json.dump({"version": 2, "files": [rel]}, f)
    with open(os.path.join(mdir, "LATEST")) as f:
        assert f.read().strip() == "1"
    assert latest_version(path) == 2
    # the next commit allocates PAST the orphan, never on top of it
    assert _commit(path, [rel]) == 3


def test_concurrent_appends_rebase_without_lock(tmp_path, monkeypatch):
    """Two appends racing WITHOUT the local lock (object-store
    simulation) must BOTH land: the loser's retry re-reads the
    winner's manifest and re-unions file lists (retry-rebase). Before
    round 4 this was a documented single-writer caveat — the loser
    based on the stale parent and silently dropped the winner's
    files."""
    import contextlib as _ctx
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from indexr_spark.sources import snapshots as S

    @_ctx.contextmanager
    def no_lock(path):
        yield

    monkeypatch.setattr(S, "_commit_lock", no_lock)

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "data"))
    # base version with one file
    base = os.path.join("data", "base.parquet")
    pq.write_table(pa.table({"k": [0]}), os.path.join(path, base))
    S._commit(path, [base])

    # emulate append_snapshot's commit step for 8 concurrent appenders
    # (files already written — data writes never race; only the commit
    # does). Uses the same rebase closure append_snapshot builds.
    rels = []
    for i in range(8):
        rel = os.path.join("data", f"a{i}.parquet")
        pq.write_table(pa.table({"k": [i + 1]}), os.path.join(path, rel))
        rels.append(rel)

    barrier = threading.Barrier(8)
    errors: list[Exception] = []

    def append_one(rel: str):
        def rebase(parent: int):
            prev = S._load_manifest(path, parent)["files"] if parent else []
            return sorted(set(prev) | {rel})

        try:
            barrier.wait()
            S._commit(path, [rel], rebase=rebase)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=append_one, args=(r,)) for r in rels]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # every append landed: the final manifest lists base + all 8 files
    final = S._load_manifest(path, S.latest_version(path))["files"]
    assert sorted(final) == sorted([base] + rels)
    assert S.latest_version(path) == 9


def test_concurrent_append_snapshot_api(spark, tmp_path, monkeypatch):
    """The public append_snapshot API under a two-writer race with the
    local lock disabled: both writers' rows must be readable in the
    final version."""
    import contextlib as _ctx
    import threading

    from indexr_spark.sources import snapshots as S

    @_ctx.contextmanager
    def no_lock(path):
        yield

    monkeypatch.setattr(S, "_commit_lock", no_lock)

    path = str(tmp_path / "t")
    S.write_snapshot(spark.range(0, 5).toDF("k"), path)

    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def append(lo: int, hi: int):
        try:
            df = spark.range(lo, hi).toDF("k")
            barrier.wait()
            S.append_snapshot(df, path)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    t1 = threading.Thread(target=append, args=(10, 15))
    t2 = threading.Thread(target=append, args=(20, 25))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    got = sorted(r.k for r in S.read_snapshot(spark, path).collect())
    assert got == list(range(0, 5)) + list(range(10, 15)) + list(range(20, 25))


def test_upsert_conflict_detection(spark, tmp_path):
    """A MERGE whose base version was superseded mid-flight must raise
    ConcurrentSnapshotConflict instead of silently replacing away the
    interleaved commit (lost update). Simulated by committing an
    append between the merge's base read and its commit attempt."""
    import pytest as _pytest

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    S.write_snapshot(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    base = S.latest_version(path)
    # interleaved append advances the table past the merge's base
    S.append_snapshot(spark.createDataFrame([(2, "b")], "k int, v string"), path)
    # a commit pinned to the stale base must refuse
    with _pytest.raises(S.ConcurrentSnapshotConflict):
        S._commit(path, ["data/bogus.parquet"], expect_parent=base)
    # and the real upsert path succeeds against the CURRENT version,
    # preserving the appended row
    S.upsert_snapshot(
        spark, path, spark.createDataFrame([(1, "A")], "k int, v string"), ["k"]
    )
    got = {tuple(r) for r in S.read_snapshot(spark, path).collect()}
    assert got == {(1, "A"), (2, "b")}


def test_epoch_guard_survives_vacuum(spark, tmp_path):
    """vacuum() retires expired manifests — but must NOT erase the
    exactly-once evidence: the max of every custom meta key folds into
    a watermark file before deletion, so a replayed epoch after a
    routine vacuum is still a no-op (caught in round-4 review: the
    manifest-scan-only guard double-appended after vacuum)."""
    from indexr_spark.sources import snapshots as S
    from indexr_spark.sources.catalog import ColumnSpec, TableSpec
    from indexr_spark.streaming.ingest import snapshot_sink

    spec = TableSpec(
        name="t",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    sdir = str(tmp_path / "rt")
    sink = snapshot_sink(spec, sdir)
    sink(spark.createDataFrame([(1, 1.0)], "k int, v double"), 7)
    # two later appends push the epoch manifest past the keep horizon
    S.append_snapshot(spark.createDataFrame([(2, 2.0)], "k int, v double"), sdir)
    S.append_snapshot(spark.createDataFrame([(3, 3.0)], "k int, v double"), sdir)
    S.vacuum(sdir, keep_versions=2, min_age_s=0)
    assert S.max_committed_meta(sdir, "epoch") == 7  # via the watermark
    n = S.read_snapshot(spark, sdir).count()
    sink(spark.createDataFrame([(1, 1.0)], "k int, v double"), 7)  # replay
    assert S.read_snapshot(spark, sdir).count() == n  # no double-append


# every sink that commits through the shared epoch guard, with one
# batch maker per batch schema: (row i) -> DataFrame
_GUARD_TEXTS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi omicron",
    "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen",
    "red orange yellow green blue indigo violet black white grey pink brown cyan teal navy",
)


def _guard_sink(name: str, out: str, app_id: str):
    from indexr_spark.sources.catalog import ColumnSpec, TableSpec
    from indexr_spark.streaming.dedup import dedup_store_sink, neardup_store_sink
    from indexr_spark.streaming.ingest import snapshot_sink
    from indexr_spark.streaming.pipeline import cleaning_pipeline_sink

    if name == "snapshot_sink":
        spec = TableSpec(
            name="t",
            columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
            sort_by=["k"],
        )
        return snapshot_sink(spec, out, app_id=app_id)
    if name == "dedup_store_sink":
        return dedup_store_sink(out, ["k"], app_id=app_id)
    if name == "neardup_store_sink":
        return neardup_store_sink(out, app_id=app_id)
    return cleaning_pipeline_sink(out, app_id=app_id)


def _guard_batch(spark, name: str, i: int):
    if name in ("snapshot_sink", "dedup_store_sink"):
        return spark.createDataFrame([(i, float(i))], "k int, v double")
    if name == "neardup_store_sink":
        return spark.createDataFrame([(i, _GUARD_TEXTS[i])], "doc_id long, text string")
    return spark.createDataFrame(
        [(i, _GUARD_TEXTS[i], "s0")], "doc_id long, text string, source string"
    )


@pytest.mark.parametrize(
    "sink_name",
    ["snapshot_sink", "dedup_store_sink", "neardup_store_sink", "cleaning_pipeline_sink"],
)
def test_epoch_guard_scoped_by_app_id(spark, tmp_path, caplog, sink_name):
    """A stream incarnation with a FRESH checkpoint restarts epoch ids
    at zero; scoping the epoch counter by app_id (the Delta
    txnAppId contract) lets the new incarnation write while the old
    incarnation's replays stay suppressed — on every sink."""
    import logging

    from indexr_spark.sources import snapshots as S

    out = str(tmp_path / "out")
    key = "k" if sink_name in ("snapshot_sink", "dedup_store_sink") else "doc_id"

    def landed():
        df = S.read_snapshot(spark, out)
        return {r[0] for r in df.select(key).distinct().collect()}

    run1 = _guard_sink(sink_name, out, "run1")
    run1(_guard_batch(spark, sink_name, 0), 500)
    # new incarnation, fresh checkpoint -> epochs restart at 0
    _guard_sink(sink_name, out, "run2")(_guard_batch(spark, sink_name, 1), 0)
    assert landed() == {0, 1}  # run2's epoch 0 NOT suppressed
    with caplog.at_level(logging.WARNING, logger="indexr_spark.sources.snapshots"):
        run1(_guard_batch(spark, sink_name, 2), 500)  # replay
    assert landed() == {0, 1}
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        out in m and "skipping epoch 500" in m and "'epoch_run1'" in m for m in msgs
    ), msgs


def test_append_commits_delta_manifest(spark, tmp_path):
    """Appends write base+add DELTA manifests (O(new files) driver
    work — the round-5 scaling fix), resolution unions the chain, and
    the pruning sidecar still mirrors the full live set."""
    import json

    from indexr_spark.sources import snapshots as S
    from indexr_spark.sources.segments import SIDECAR_NAME

    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 5).toDF("k"), path)
    append_snapshot(spark.range(10, 15).toDF("k"), path)
    append_snapshot(spark.range(20, 25).toDF("k"), path)

    m2 = S._load_manifest(path, 2)
    m3 = S._load_manifest(path, 3)
    assert "files" not in m2 and m2["base"] == 1 and m2["depth"] == 1
    assert "files" not in m3 and m3["base"] == 2 and m3["depth"] == 2
    # the delta lists ONLY the new files
    assert set(m3["add"]).isdisjoint(m2["add"])
    # resolution: v3 = v1 ∪ adds; reads see everything
    assert set(S.files_of(path, 3)) == (
        set(S.files_of(path, 1)) | set(m2["add"]) | set(m3["add"])
    )
    got = sorted(r.k for r in read_snapshot(spark, path).collect())
    assert got == list(range(0, 5)) + list(range(10, 15)) + list(range(20, 25))
    # time travel to the middle version still works
    assert read_snapshot(spark, path, version=2).count() == 10
    # the sidecar legitimately LAGS on delta commits (refresh is
    # amortized to full-manifest materializations — the measured
    # O(files) term); it still describes v1 here
    with open(os.path.join(path, SIDECAR_NAME)) as f:
        sidecar_files = sorted(e["path"] for e in json.load(f)["files"])
    assert sidecar_files == S.files_of(path, 1)


def test_small_writes_commit_no_zero_row_files(spark, tmp_path):
    """Spark writes a zero-row file for each empty write task. A
    1-row append must commit exactly one data file, leave no other
    parquet file in its batch dir, and list only that file in the
    batch sidecar. A 0-row write keeps one file, so the snapshot
    still reads back with its schema."""
    import json

    from indexr_spark.sources import snapshots as S
    from indexr_spark.sources.segments import SIDECAR_NAME

    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 5).toDF("k"), path)
    append_snapshot(spark.createDataFrame([(100,)], "k long"), path)
    add = S._load_manifest(path, latest_version(path))["add"]
    assert len(add) == 1
    batch = os.path.join(path, os.path.dirname(add[0]))
    on_disk = sorted(n for n in os.listdir(batch) if n.endswith(".parquet"))
    assert on_disk == [os.path.basename(add[0])]
    with open(os.path.join(batch, SIDECAR_NAME)) as f:
        assert [e["path"] for e in json.load(f)["files"]] == on_disk
    assert sorted(r.k for r in read_snapshot(spark, path).collect()) == [
        0, 1, 2, 3, 4, 100
    ]

    empty = str(tmp_path / "empty")
    write_snapshot(spark.createDataFrame([], "k long, s string"), empty)
    assert len(S.files_of(empty, latest_version(empty))) == 1
    back = read_snapshot(spark, empty)
    assert back.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in back.schema.fields] == [
        ("k", "bigint"), ("s", "string")
    ]


def test_delta_chain_materializes_at_cap(spark, tmp_path, monkeypatch):
    """Every FULL_REWRITE_EVERY-th append writes a FULL manifest,
    bounding chain length (and amortizing the O(files) write)."""
    from indexr_spark.sources import snapshots as S

    monkeypatch.setattr(S, "FULL_REWRITE_EVERY", 3)
    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 2).toDF("k"), path)  # v1 full
    for i in range(1, 6):
        append_snapshot(spark.range(10 * i, 10 * i + 2).toDF("k"), path)
    # v2 delta(d1), v3 FULL (depth would hit 3-1+1... cap), v4 delta,
    # v5 delta... pattern: depth resets to 0 at each materialization
    depths = [S._depth(S._load_manifest(path, v)) for v in range(1, 7)]
    assert depths[0] == 0
    assert max(depths) < 3
    assert 0 in depths[1:], f"no materialization happened: {depths}"
    # a materialized full manifest resolves identically to its chain
    got = sorted(r.k for r in read_snapshot(spark, path).collect())
    assert got == [0, 1] + [x for i in range(1, 6) for x in (10 * i, 10 * i + 1)]


def test_vacuum_materializes_oldest_kept_delta(spark, tmp_path):
    """vacuum must not leave a kept delta chain dangling past the
    horizon: the oldest kept version materializes full before expired
    manifests (its former bases) are retired."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 3).toDF("k"), path)  # v1 full
    for i in range(1, 5):  # v2..v5 deltas
        append_snapshot(spark.range(10 * i, 10 * i + 3).toDF("k"), path)
    assert "files" not in S._load_manifest(path, 4)
    vacuum(path, keep_versions=2, min_age_s=0)  # keep v4, v5; retire v1..v3
    m4 = S._load_manifest(path, 4)
    assert "files" in m4, "oldest kept version must be materialized full"
    # both kept versions fully readable; appends-only table: all rows live
    assert read_snapshot(spark, path, version=4).count() == 12
    assert read_snapshot(spark, path, version=5).count() == 15
    # below the horizon: loud failure, not a half-read
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, version=2)


def test_scan_paths_collapse_dirs_safely(spark, tmp_path):
    """read_snapshot hands Spark whole batch DIRECTORIES when their
    on-disk contents exactly match the live set (one LIST beats
    per-file status calls at 100k files), and falls back to explicit
    leaf paths the moment a dir holds anything extra — an uncommitted
    writer's file must never leak into a snapshot read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 5).toDF("k"), path)
    append_snapshot(spark.range(10, 15).toDF("k"), path)

    files = S.files_of(path, S.latest_version(path))
    paths = S._scan_paths(path, files)
    # clean append-only batch dirs: handed over as directories
    assert all(os.path.isdir(p) for p in paths), paths
    assert len(paths) < len(files)
    got = sorted(r.k for r in read_snapshot(spark, path).collect())
    assert got == list(range(0, 5)) + list(range(10, 15))

    # an uncommitted intruder lands in one batch dir -> that dir is
    # disqualified (leaf paths), the OTHER dirs stay collapsed, and
    # the intruder's rows never appear in the read
    victim = os.path.dirname(os.path.join(path, files[0]))
    pq.write_table(pa.table({"k": [999]}), os.path.join(victim, "intruder.parquet"))
    paths2 = S._scan_paths(path, files)
    assert any(not os.path.isdir(p) for p in paths2), paths2
    got2 = sorted(r.k for r in read_snapshot(spark, path).collect())
    assert got2 == got, "uncommitted file leaked into the snapshot read"

    # _SUCCESS / dotfiles are invisible to Spark's listing and must
    # not disqualify a dir
    other = {os.path.dirname(os.path.join(path, f)) for f in files} - {victim}
    d = other.pop()
    open(os.path.join(d, "_SUCCESS"), "w").close()
    assert d in S._scan_paths(path, files)


def test_upsert_scoped_rewrite(spark, tmp_path):
    """Copy-on-write MERGE rewrites ONLY the files whose sidecar key
    ranges may overlap the updates (the 100 TB form: rewrite cost
    proportional to files touched, not table size). Files with
    provably-disjoint key ranges carry into the new manifest by
    reference — the same relative paths, no new bytes written."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    # three appends with disjoint key ranges -> disjoint per-file stats
    # (sort_by keeps each batch's files range-tight); a full commit at
    # the end refreshes the sidecar over all live files
    write_snapshot(spark.range(0, 100).toDF("k"), path, sort_by=["k"])
    append_snapshot(spark.range(1000, 1100).toDF("k"), path, sort_by=["k"])
    v3 = S.write_snapshot(
        read_snapshot(spark, path).unionByName(
            spark.range(2000, 2100).toDF("k")
        ),
        path,
        sort_by=["k"],
        num_segments=3,
    )
    live_before = S.files_of(path, v3)
    assert len(live_before) >= 3

    # updates hit only the middle range
    updates = spark.createDataFrame([(1000,), (1001,)], "k long")
    v4 = upsert_snapshot(spark, path, updates, ["k"])
    live_after = set(S.files_of(path, v4))

    carried = set(live_before) & live_after
    replaced = set(live_before) - live_after
    assert carried, "disjoint-range files must carry by reference"
    assert replaced, "the overlapping file must be rewritten"
    # only the file(s) covering the 1000-range were rewritten
    from indexr_spark.sources.segments import load_sidecar

    stats = load_sidecar(path)[0]
    for rel in replaced:
        st = stats.get(os.path.join(path, rel))
        if st is not None and "k" in st:
            assert st["k"].min <= 1001 and st["k"].max >= 1000
    # semantics identical to a full MERGE
    got = sorted(r.k for r in read_snapshot(spark, path).collect())
    assert got == sorted(
        list(range(0, 100)) + list(range(1000, 1100)) + list(range(2000, 2100))
    )
    # time travel to the pre-merge version still works
    assert read_snapshot(spark, path, version=v3).count() == 300


def test_upsert_scoped_insert_only(spark, tmp_path):
    """Updates whose keys overlap NO live file are a pure insert: all
    live files carry by reference, zero files are read back."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    v1 = write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    live = set(S.files_of(path, v1))
    v2 = upsert_snapshot(
        spark, path, spark.createDataFrame([(99, "z")], "k int, v string"), ["k"]
    )
    after = set(S.files_of(path, v2))
    assert live <= after, "no live file may be rewritten on a pure insert"
    got = {tuple(r) for r in read_snapshot(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (99, "z")}


def test_files_of_retries_across_vacuum(spark, tmp_path, monkeypatch):
    """ADVICE r5 (medium): a reader's files_of walk can pick up a kept
    version in its DELTA form just before vacuum materializes it, then
    hit the expired base manifests vacuum retires. The walk must retry
    and land on the just-materialized full manifest — not surface
    FileNotFoundError for a LIVE version."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 3).toDF("k"), path)  # v1 full
    for i in range(1, 5):  # v2..v5 deltas
        append_snapshot(spark.range(10 * i, 10 * i + 3).toDF("k"), path)
    assert "files" not in S._load_manifest(path, 4)

    real_load = S._load_manifest
    fired = {"done": False}

    def racing_load(p, v):
        m = real_load(p, v)
        # the reader holds v4's DELTA dict; vacuum lands right now,
        # materializing v4 and retiring v1..v3 under the walk
        if v == 4 and "files" not in m and not fired["done"]:
            fired["done"] = True
            vacuum(path, keep_versions=2, min_age_s=0)
        return m

    monkeypatch.setattr(S, "_load_manifest", racing_load)
    files = S.files_of(path, 4)
    assert fired["done"], "race did not fire"
    monkeypatch.setattr(S, "_load_manifest", real_load)
    assert files == S.files_of(path, 4)  # same set as a clean resolve
    assert read_snapshot(spark, path, version=4).count() == 12
    # below the horizon stays loudly dead even with retries
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        S.files_of(path, 2)


def test_watermark_skips_structural_keys(spark, tmp_path):
    """ADVICE r5: vacuum's watermark fold must not absorb a retired
    DELTA's base/depth/add structure (embedding a file list in the
    watermark forever); asking max_committed_meta for a structural key
    is a loud error, not a bogus answer."""
    import pytest as _pytest

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 2).toDF("k"), path)
    for i in range(3):  # deltas carrying custom meta
        append_snapshot(
            spark.range(10 * i, 10 * i + 2).toDF("k"), path, meta={"epoch": i}
        )
    vacuum(path, keep_versions=1, min_age_s=0)  # retires the delta manifests
    wm = S._meta_watermarks(path)
    assert set(wm) == {"epoch"}, wm  # no base/depth/add leaked in
    assert S.max_committed_meta(path, "epoch") == 2
    for k in ("base", "depth", "add", "files", "version"):
        with _pytest.raises(ValueError):
            S.max_committed_meta(path, k)


def test_scan_paths_managed_namespace_only(spark, tmp_path):
    """ADVICE r5: directory collapse is check-then-use (Spark re-lists
    at planning), so it is restricted to the managed data/ namespace
    where this module is the only writer. Adopted external layouts
    always go as explicit leaf paths — a post-adoption external write
    can then never leak into a pinned-version read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "ext")
    os.makedirs(os.path.join(path, "seg0"))
    pq.write_table(pa.table({"k": [1, 2]}), os.path.join(path, "seg0", "a.parquet"))
    S.ensure_snapshot(path)
    files = S.files_of(path, 1)
    paths = S._scan_paths(path, files)
    assert all(not os.path.isdir(p) for p in paths), (
        "adopted external dirs must not collapse: %s" % paths
    )
    # an external writer drops a file in AFTER adoption: the pinned
    # read is unaffected because we never handed the dir to Spark
    pq.write_table(pa.table({"k": [999]}), os.path.join(path, "seg0", "b.parquet"))
    assert sorted(r.k for r in read_snapshot(spark, path).collect()) == [1, 2]

    # managed batch dirs still collapse
    mpath = str(tmp_path / "managed")
    write_snapshot(spark.range(0, 5).toDF("k"), mpath)
    mfiles = S.files_of(mpath, 1)
    assert any(os.path.isdir(p) for p in S._scan_paths(mpath, mfiles))


def test_manifest_enumeration_tolerates_stray_names(spark, tmp_path):
    """A stray non-numeric v*.json in _manifests must not crash any
    enumerator (snapshot_history previously parsed int() bare while
    latest_version suppressed — ADVICE r5)."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    write_snapshot(spark.range(0, 2).toDF("k"), path)
    append_snapshot(spark.range(5, 7).toDF("k"), path)
    stray = os.path.join(path, "_manifests", "vNOTANUMBER.json")
    with open(stray, "w") as f:
        f.write("{}")
    assert S.latest_version(path) == 2
    hist = S.snapshot_history(spark, path).collect()
    assert sorted(r.version for r in hist) == [1, 2]
    assert S.max_committed_meta(path, "epoch") is None
    vacuum(path, keep_versions=1, min_age_s=0)
    assert S.latest_version(path) == 2


def test_vacuum_grace_spares_fresh_uncommitted_files(spark, tmp_path):
    """The min_age_s grace (review fix): an appender writes its data
    files BEFORE taking the commit lock, so vacuum must not sweep
    fresh un-manifested files as orphans — they may be a commit in
    flight. Old orphans (dead writers) still age out."""
    import os
    import time as _time

    from indexr_spark.sources.snapshots import vacuum, write_snapshot

    path = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, s string"), path
    )
    # simulate an in-flight appender: a data file present on disk,
    # referenced by NO manifest yet
    batch = os.path.join(path, "data", "aaaaaaaaaaaa")
    os.makedirs(batch)
    spark.createDataFrame([(9, "z")], "k int, s string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(batch)
    orphans = [
        os.path.join(r, n)
        for r, _, ns in os.walk(batch)
        for n in ns
        if n.endswith(".parquet")
    ]
    assert orphans

    # fresh: the default grace spares it
    deleted = vacuum(path, keep_versions=1)
    assert all("aaaaaaaaaaaa" not in d for d in deleted)
    assert all(os.path.exists(p) for p in orphans)

    # aged out: backdate past the grace and it goes
    old = _time.time() - 3600
    for p in orphans:
        os.utime(p, (old, old))
    deleted = vacuum(path, keep_versions=1, min_age_s=600)
    assert any("aaaaaaaaaaaa" in d for d in deleted)
    assert not any(os.path.exists(p) for p in orphans)


def test_scan_paths_require_batch_dir_convention(tmp_path):
    """_scan_paths collapses only structurally-managed dirs: data/
    itself and data/<12-hex> batch dirs. An adopted external layout
    whose files merely SIT under a dir named data/something must go
    as explicit leaf paths (its writer may still exist)."""
    import os

    from indexr_spark.sources.snapshots import _scan_paths

    root = str(tmp_path / "t")
    for d in ("data/abcdef012345", "data/external-dir"):
        os.makedirs(os.path.join(root, d))
    for f in ("data/abcdef012345/p1.parquet", "data/external-dir/p2.parquet"):
        open(os.path.join(root, f), "w").write("x")
    out = _scan_paths(
        root, ["data/abcdef012345/p1.parquet", "data/external-dir/p2.parquet"]
    )
    assert os.path.join(root, "data", "abcdef012345") in out
    assert os.path.join(root, "data", "external-dir", "p2.parquet") in out
    assert os.path.join(root, "data", "external-dir") not in out


def test_vacuum_honors_inflight_markers(spark, tmp_path):
    """The in-flight marker protocol (review fix #2): a batch whose
    marker is fresh is protected from the orphan sweep REGARDLESS of
    file age (a big pre-commit write can outlive any fixed grace); a
    stale marker is a dead writer — batch swept, marker retired. The
    commit paths clear their own markers."""
    import os
    import time as _time

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1, "a")], "k int, s string"), path)
    # the successful commit cleared its marker
    data_dir = os.path.join(path, "data")
    assert not [
        n for n in os.listdir(data_dir) if n.startswith(S.INFLIGHT_PREFIX)
    ]

    # simulate a SLOW in-flight writer: files older than any grace,
    # marker fresh
    batch = os.path.join(data_dir, "bbbbbbbbbbbb")
    os.makedirs(batch)
    spark.createDataFrame([(9, "z")], "k int, s string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(batch)
    orphans = [
        os.path.join(r, n)
        for r, _, ns in os.walk(batch)
        for n in ns
        if n.endswith(".parquet")
    ]
    old = _time.time() - 7200
    for p in orphans:
        os.utime(p, (old, old))
    marker = S._inflight_marker(path, "bbbbbbbbbbbb")
    open(marker, "w").write("123")

    deleted = S.vacuum(path, keep_versions=1, min_age_s=600)
    assert all("bbbbbbbbbbbb" not in d for d in deleted)
    assert all(os.path.exists(p) for p in orphans), "in-flight batch swept"

    # LONG live writer: marker older than the stale window but the
    # batch's newest file is fresh (task commits keep landing) — the
    # batch stays protected however long the whole write takes
    os.utime(marker, (old, old))
    os.utime(orphans[0], None)  # a task commit just landed
    deleted = S.vacuum(path, keep_versions=1, min_age_s=600)
    assert all("bbbbbbbbbbbb" not in d for d in deleted)
    assert os.path.exists(marker), "live writer's marker stripped"

    # dead writer: marker AND all batch content stale (the liveness
    # signal is max(marker, newest batch file) — _SUCCESS/.crc count,
    # since Spark touches them as the write progresses) -> batch
    # swept, marker gone
    os.utime(marker, (old, old))
    for r, _, ns in os.walk(batch):
        for n in ns:
            os.utime(os.path.join(r, n), (old, old))
    deleted = S.vacuum(path, keep_versions=1, min_age_s=600)
    assert any("bbbbbbbbbbbb" in d for d in deleted)
    assert not os.path.exists(marker)


def test_delete_matching_value_scoped_for_spread_keys(spark, tmp_path):
    """Hash-like delete keys span the whole key space, so the delete
    set's global [min,max] overlaps EVERY file's range — the scoping
    must instead prove per file that no deleted key lies inside its
    range (sorted-value binary search). Four range-disjoint files,
    two deleted keys at opposite ends: exactly the two holding files
    rewrite, the other two carry by reference."""
    import hashlib

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    keys = sorted(hashlib.md5(str(i).encode()).hexdigest() for i in range(400))
    quarts = [keys[i * 100:(i + 1) * 100] for i in range(4)]
    # one sorted append per quartile -> four files with disjoint ranges
    for q in quarts:
        S.append_snapshot(
            spark.createDataFrame([(k, 1) for k in q], "h string, v int"),
            path, sort_by=["h"],
        )
    # full commit refreshes the sidecar over all live files
    S._commit(path, S.files_of(path, S.latest_version(path)))
    live = S.files_of(path, S.latest_version(path))
    assert len(live) >= 4
    # delete one key from the FIRST quartile and one from the LAST:
    # their global [min,max] covers every file in between
    doomed = [quarts[0][50], quarts[3][50]]
    v = S.delete_matching(
        spark, path,
        spark.createDataFrame([(k,) for k in doomed], "h string"), ["h"],
    )
    after = set(S.files_of(path, v))
    carried = [f for f in live if f in after]
    rewritten = [f for f in live if f not in after]
    assert len(rewritten) == 2, (
        f"value scoping failed: rewrote {len(rewritten)} of {len(live)}"
    )
    assert len(carried) == len(live) - 2
    got = {r.h for r in S.read_snapshot(spark, path).collect()}
    assert got == set(keys) - set(doomed)


def test_upsert_value_scoped_for_spread_keys(spark, tmp_path):
    """The MERGE twin of the spread-key delete test: upserting two
    hash-like keys whose global range spans every file must rewrite
    only the files actually holding those keys; the others carry by
    reference and the merge result is still exact."""
    import hashlib

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    keys = sorted(hashlib.md5(str(i).encode()).hexdigest() for i in range(400))
    quarts = [keys[i * 100:(i + 1) * 100] for i in range(4)]
    for q in quarts:
        S.append_snapshot(
            spark.createDataFrame([(k, 0) for k in q], "h string, v int"),
            path, sort_by=["h"],
        )
    S._commit(path, S.files_of(path, S.latest_version(path)))
    live = S.files_of(path, S.latest_version(path))
    assert len(live) >= 4
    upd = [(quarts[0][50], 1), (quarts[3][50], 1), ("zzzz_new_key", 1)]
    v = S.upsert_snapshot(
        spark, path,
        spark.createDataFrame(upd, "h string, v int"), ["h"],
    )
    after = set(S.files_of(path, v))
    rewritten = [f for f in live if f not in after]
    # the two files holding the updated keys (the brand-new key's
    # insert rides the rewrite batch; "zzzz..." sorts past every md5
    # hex so it may extend the last file's range but provably matches
    # no live file's existing keys)
    assert len(rewritten) <= 3, rewritten
    rows = {r.h: r.v for r in S.read_snapshot(spark, path).collect()}
    assert rows[quarts[0][50]] == 1 and rows[quarts[3][50]] == 1
    assert rows["zzzz_new_key"] == 1
    assert sum(1 for x in rows.values() if x == 0) == 398


def _build_epoch_fragmented(spark, S, path, n_epochs=10, per_epoch=60):
    """n_epochs hash-sorted appends whose files each tile ~the whole
    hex space (md5 keys of disjoint int ranges): per-file [min,max]
    membership matches ~1 file per key per EPOCH, so only the exact
    probe can pin a key to the one file actually holding it."""
    import hashlib

    def canon(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    for ep in range(n_epochs):
        lo = ep * per_epoch
        rows = [(lo + i, canon(lo + i), 0) for i in range(per_epoch)]
        S.append_snapshot(
            spark.createDataFrame(rows, "doc_id long, h string, v int"),
            path, sort_by=["h"],
        )
    return canon


def test_upsert_probe_exact_on_epoch_fragmented_table(spark, tmp_path):
    """With >= _PROBE_MIN_FILES range/value candidates (every epoch's
    file spans the hex space), _probe_touched_files must narrow the
    rewrite to the files ACTUALLY holding an updated key — keys x 1,
    not keys x epochs."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    canon = _build_epoch_fragmented(spark, S, path)
    live = S.files_of(path, S.latest_version(path))
    assert len(live) >= S._PROBE_MIN_FILES
    upd = [(7, canon(7), 1), (431, canon(431), 1),
           (10**9, "zzzz_new_key", 1)]
    v = S.upsert_snapshot(
        spark, path,
        spark.createDataFrame(upd, "doc_id long, h string, v int"), ["h"],
        sort_by=["h"],
    )
    after = set(S.files_of(path, v))
    rewritten = [f for f in live if f not in after]
    # the two keys live in (at most) two files; the insert rides the
    # rewrite batch — without the probe this is ~1 file per epoch
    assert len(rewritten) <= 2, rewritten
    rows = {r.h: r.v for r in S.read_snapshot(spark, path).collect()}
    assert rows[canon(7)] == 1 and rows[canon(431)] == 1
    assert rows["zzzz_new_key"] == 1
    assert sum(1 for x in rows.values() if x == 0) == 598


def test_delete_probe_exact_on_epoch_fragmented_table(spark, tmp_path):
    """The DELETE twin: delete_matching over the same layout rewrites
    only the files actually holding a doomed key."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    canon = _build_epoch_fragmented(spark, S, path)
    live = S.files_of(path, S.latest_version(path))
    assert len(live) >= S._PROBE_MIN_FILES
    doomed = [canon(13), canon(517)]
    v = S.delete_matching(
        spark, path,
        spark.createDataFrame([(k,) for k in doomed], "h string"), ["h"],
        sort_by=["h"],
    )
    after = set(S.files_of(path, v))
    rewritten = [f for f in live if f not in after]
    assert len(rewritten) <= 2, rewritten
    got = {r.h for r in S.read_snapshot(spark, path).collect()}
    assert canon(13) not in got and canon(517) not in got
    assert len(got) == 598


def test_probe_narrow_only_and_threshold(spark, tmp_path):
    """_probe_touched_files returns candidates unchanged below the
    threshold, and never widens the candidate set."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    canon = _build_epoch_fragmented(spark, S, path, n_epochs=3)
    live = S.files_of(path, S.latest_version(path))
    keys = spark.createDataFrame([(canon(5),)], "h string")
    few = live[:S._PROBE_MIN_FILES - 1]
    assert S._probe_touched_files(spark, path, few, keys, ["h"]) == few
    probed = S._probe_touched_files(spark, path, live, keys, ["h"])
    assert set(probed) <= set(live) and len(probed) <= 3


def test_small_range_scoped_delete_skips_value_collect_and_probe(
    spark, tmp_path, monkeypatch
):
    """The r9 short-circuit (r8 ADVICE): when range-only scoping
    already leaves fewer than _PROBE_MIN_FILES candidates — the
    integer-keyed, well-clustered case — delete_matching/upsert must
    run NEITHER the per-key-column distinct collects
    (_update_key_values) nor the probe scan job, since both cost fixed
    latency every small delete/merge."""
    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    # 4 files, each covering a disjoint k range (clustered writes)
    for lo in (0, 100, 200, 300):
        df = spark.range(lo, lo + 100).selectExpr("id AS k", "id * 2 AS v")
        if lo == 0:
            S.write_snapshot(df, path, sort_by=["k"])
        else:
            S.append_snapshot(df, path, sort_by=["k"])

    calls = {"values": 0, "probe": 0}
    orig_vals, orig_probe = S._update_key_values, S._probe_touched_files

    def count_vals(*a, **kw):
        calls["values"] += 1
        return orig_vals(*a, **kw)

    def count_probe(*a, **kw):
        calls["probe"] += 1
        return orig_probe(*a, **kw)

    monkeypatch.setattr(S, "_update_key_values", count_vals)
    monkeypatch.setattr(S, "_probe_touched_files", count_probe)

    keys = spark.createDataFrame([(150,), (160,)], "k long")
    v = S.delete_matching(spark, path, keys, ["k"])
    assert calls == {"values": 0, "probe": 0}, calls
    got = S.read_snapshot(spark, path, v)
    assert got.count() == 398
    assert got.filter("k IN (150, 160)").count() == 0

    # and the same short-circuit on the MERGE plan
    ups = spark.createDataFrame([(150, -1), (412, -2)], "k long, v long")
    v2 = S.upsert_snapshot(spark, path, ups, ["k"])
    assert calls == {"values": 0, "probe": 0}, calls
    got2 = S.read_snapshot(spark, path, v2)
    assert got2.filter("k = 150").select("v").head()[0] == -1
    assert got2.filter("k = 412").count() == 1
    assert got2.count() == 400  # 398 survivors + re-inserted 150 + new 412


def test_scoped_touched_files_sound_with_lagging_sidecar(spark, tmp_path):
    """Write scoping never drops a file that holds a key: on a
    hash-keyed table of 13 epochs whose table sidecar covers only the
    first (12 delta appends since, one batch sidecar deleted), every
    file that really holds a key of a seeded key set — found by
    scanning input_file_name() — is in the touched set, on the hash
    key (value membership + probe) and on the epoch-clustered integer
    key (range scoping alone)."""
    import json
    import random
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    from indexr_spark.sources import snapshots as S
    from indexr_spark.sources.segments import SIDECAR_NAME

    path = str(tmp_path / "t")
    # the first append commits a full manifest (and the table
    # sidecar); the 12 after it commit deltas, which leave it lagging
    canon = _build_epoch_fragmented(spark, S, path, n_epochs=13)
    live = S.files_of(path, S.latest_version(path))
    with open(os.path.join(path, SIDECAR_NAME)) as f:
        assert set(live) - {e["path"] for e in json.load(f)["files"]}
    # drop one appended batch's own sidecar: its file has no stats at all
    os.remove(os.path.join(path, os.path.dirname(live[-1]), SIDECAR_NAME))

    table = spark.read.parquet(*[os.path.join(path, f) for f in live]).select(
        F.input_file_name().alias("f"), "doc_id", "h"
    )

    def holding(keys, col):
        hits = table.join(keys, col, "leftsemi").select("f").distinct().collect()
        return {os.path.relpath(unquote(urlparse(r.f).path), path) for r in hits}

    for seed in range(4):
        rng = random.Random(seed)
        ids = rng.sample(range(13 * 60), 3 + 5 * seed) + [10**6 + seed]
        for col, rows, ddl in (
            ("h", [(canon(i),) for i in ids], "h string"),
            ("doc_id", [(i,) for i in ids[:2]], "doc_id long"),
        ):
            keys = spark.createDataFrame(rows, ddl)
            touched = S._scoped_touched_files(
                spark, path, live, keys, [col], S._update_key_ranges(keys, [col])
            )
            missed = holding(keys, col) - set(touched)
            assert not missed, (seed, col, missed)


def test_delete_scoped_on_composite_key_with_binary_column(spark, tmp_path):
    """A binary key column's sidecar stats are stored as str, so they
    never compare with the delete set's bytes keys. That column alone
    can't scope the rewrite, but the int key column beside it still
    proves the other epochs' files disjoint: one file rewrites, not
    every file."""
    import pyarrow.parquet as pq

    from indexr_spark.sources import snapshots as S

    path = str(tmp_path / "t")
    for ep in range(4):
        rows = [(f"x{i}".encode(), ep * 10 + i, 0) for i in range(10)]
        S.append_snapshot(
            spark.createDataFrame(rows, "b binary, k int, v int"), path, sort_by=["k"]
        )
    live = S.files_of(path, S.latest_version(path))
    ks = {f: pq.read_table(os.path.join(path, f), columns=["k"])["k"].to_pylist() for f in live}
    assert sum(1 for f in live if ks[f]) == 4
    v = S.delete_matching(
        spark, path, spark.createDataFrame([(b"x3", 13)], "b binary, k int"), ["b", "k"]
    )
    after = set(S.files_of(path, v))
    assert [f for f in live if f not in after] == [f for f in live if 13 in ks[f]]
    got = S.read_snapshot(spark, path)
    assert got.count() == 39 and got.filter("k = 13").count() == 0


def test_ensure_snapshot_refuses_hive_partitions(spark, tmp_path):
    """A manifest lists files, not partition values: adopting a `k=v`
    layout would drop the partition column, so ensure_snapshot refuses
    it and names the directory; one partition directory adopts."""
    from indexr_spark.sources.segments import write_segments
    from indexr_spark.sources.snapshots import ensure_snapshot

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("CAST(id AS INT) k", "CAST(id % 2 AS INT) p")
    write_segments(df, path, partition_by=["p"])
    with pytest.raises(ValueError, match=r"p=\d.*partition"):
        ensure_snapshot(path)
    assert latest_version(path) == 0
    part = os.path.join(path, "p=1")
    assert ensure_snapshot(part) == 1
    assert read_snapshot(spark, part).count() == 50
