"""Streaming incremental dedup: the stateless stream-vs-fixed-store
form and the self-maintaining dedup-store sink (d28 as a stream)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from indexr_spark.sources.snapshots import (
    latest_version,
    max_committed_meta,
    read_snapshot,
)
from indexr_spark.streaming.dedup import dedup_store_sink, dedup_stream

SCHEMA = "doc_id LONG, text STRING"


def _write_batch(src: str, name: str, rows: list[tuple[int, str]]) -> None:
    with open(os.path.join(src, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_dedup_stream_against_fixed_store(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    _write_batch(src, "a.jsonl", [(1, "seen"), (2, "new"), (3, "new")])

    store = spark.createDataFrame([("seen",)], "text STRING").withColumn(
        "h", F.md5("text")
    )
    stream = spark.readStream.schema(SCHEMA).json(src).withColumn(
        "h", F.md5("text")
    )
    q = (
        dedup_stream(stream, store, ["h"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("fixed_store_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # next batch: a cross-batch dup of "new" and a fresh doc
        _write_batch(src, "b.jsonl", [(4, "new"), (5, "fresh")])
        q.processAllAvailable()
        rows = spark.sql("SELECT doc_id, text FROM fixed_store_out").collect()
    finally:
        q.stop()
    # "seen" dropped vs store; "new" kept once (first-wins keyed
    # state suppresses both the in-batch and the cross-batch dup)
    assert sorted(r.text for r in rows) == ["fresh", "new"]
    assert {r.doc_id for r in rows if r.text == "new"} <= {2, 3}


def test_dedup_store_sink_self_maintains(spark, tmp_path):
    src = str(tmp_path / "in")
    store_dir = str(tmp_path / "store")
    os.makedirs(src)
    _write_batch(src, "a.jsonl", [(1, "alpha"), (2, "alpha"), (3, "beta")])

    stream = spark.readStream.schema(SCHEMA).json(src).withColumn(
        "h", F.md5("text")
    )
    q = (
        stream.writeStream.foreachBatch(
            dedup_store_sink(store_dir, ["h"], app_id="t1")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        v1 = latest_version(store_dir)
        got1 = sorted(
            r.text for r in read_snapshot(spark, store_dir).collect()
        )
        assert got1 == ["alpha", "beta"]  # in-batch dup suppressed

        # batch 2: dup-vs-store + novel — only the novel row lands
        _write_batch(src, "b.jsonl", [(4, "alpha"), (5, "gamma")])
        q.processAllAvailable()
        got2 = sorted(
            r.text for r in read_snapshot(spark, store_dir).collect()
        )
        assert got2 == ["alpha", "beta", "gamma"]
        assert latest_version(store_dir) > v1
    finally:
        q.stop()

    # replayed epoch (crash between append-commit and checkpoint
    # commit): the guard must skip BEFORE the anti-join — no
    # double-append, version unchanged
    sink = dedup_store_sink(store_dir, ["h"], app_id="t1")
    v_before = latest_version(store_dir)
    replay = spark.createDataFrame([(9, "delta")], SCHEMA).withColumn(
        "h", F.md5("text")
    )
    sink(replay, 0)  # epoch 0 <= committed max
    assert latest_version(store_dir) == v_before
    assert sorted(
        r.text for r in read_snapshot(spark, store_dir).collect()
    ) == ["alpha", "beta", "gamma"]

    # a NEW epoch from the same incarnation still lands
    committed = max_committed_meta(store_dir, "epoch_t1")
    sink(replay, committed + 1)
    assert sorted(
        r.text for r in read_snapshot(spark, store_dir).collect()
    ) == ["alpha", "beta", "delta", "gamma"]


def test_dedup_store_sink_all_dup_batch_still_advances_epoch(spark, tmp_path):
    """A batch that is 100% duplicates must still commit its epoch
    meta (an empty append) — otherwise a crash-replay of that epoch
    would re-run the anti-join against a later store and potentially
    land rows the first run correctly dropped."""
    store_dir = str(tmp_path / "store")
    sink = dedup_store_sink(store_dir, ["h"], app_id="t2")
    b1 = spark.createDataFrame([(1, "x")], SCHEMA).withColumn("h", F.md5("text"))
    sink(b1, 0)
    sink(b1, 1)  # all-dup batch
    assert max_committed_meta(store_dir, "epoch_t2") == 1
    assert read_snapshot(spark, store_dir).count() == 1


def test_dedup_stream_within_watermark_bounds_state(spark, tmp_path):
    """within_watermark=True routes through
    dropDuplicatesWithinWatermark — the state-bounded form (plain
    dropDuplicates keeps a state entry per key forever; the docstring
    now carries that contract). Drive it end to end: in-window dups
    suppressed, the query runs with a watermark attached."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        for ts, doc_id, text in [
            ("2024-01-01 00:00:01", 1, "x"),
            ("2024-01-01 00:00:02", 2, "x"),  # in-window dup
            ("2024-01-01 00:00:03", 3, "y"),
        ]:
            f.write(json.dumps({"ts": ts, "doc_id": doc_id, "text": text}) + "\n")

    store = spark.createDataFrame([("z",)], "text STRING").withColumn(
        "h", F.md5("text")
    )
    stream = (
        spark.readStream.schema("ts TIMESTAMP, doc_id LONG, text STRING")
        .json(src)
        .withColumn("h", F.md5("text"))
        .withWatermark("ts", "10 minutes")
    )
    q = (
        dedup_stream(stream, store, ["h"], within_watermark=True)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT text FROM wm_dedup_out").collect()
    finally:
        q.stop()
    assert sorted(r.text for r in rows) == ["x", "y"]


def test_neardup_store_sink_accumulates_novel_signatures(spark, tmp_path):
    """Near-dup store sink end to end: batch 1 seeds the store
    (in-batch exact dup collapsed); batch 2's near-dup of a stored
    doc is dropped while its novel doc lands; a replayed epoch is a
    no-op."""
    from indexr_spark.streaming.dedup import neardup_store_sink

    store_dir = str(tmp_path / "sigstore")
    sink = neardup_store_sink(store_dir, bands=4, est_threshold=0.8, app_id="n1")

    base = "alpha beta gamma delta epsilon zeta eta theta"
    b1 = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words entirely here")],
        SCHEMA,
    )
    sink(b1, 0)
    docs_v1 = {
        r.doc_id for r in read_snapshot(spark, store_dir).select("doc_id").distinct().collect()
    }
    assert docs_v1 == {1, 3}  # exact in-batch dup collapsed to min id

    # batch 2: near-dup of doc 1 (J=0.875 catches at 4x4 banding,
    # estimate 14/16=0.875 >= 0.8) + a novel doc
    b2 = spark.createDataFrame(
        [(10, base + " extra"), (11, "yet more unrelated text about benches")],
        SCHEMA,
    )
    sink(b2, 1)
    docs_v2 = {
        r.doc_id for r in read_snapshot(spark, store_dir).select("doc_id").distinct().collect()
    }
    assert docs_v2 == {1, 3, 11}

    # replayed epoch: no growth
    sink(b2, 1)
    docs_v3 = {
        r.doc_id for r in read_snapshot(spark, store_dir).select("doc_id").distinct().collect()
    }
    assert docs_v3 == docs_v2


def test_neardup_store_sink_refuses_banding_mismatch(spark, tmp_path):
    """The store records its banding in manifest meta; reopening with
    a different bands value must refuse loudly — mismatched bandings
    produce (band, sig) keys that never collide, so every near-dup
    would silently pass as novel (review finding)."""
    import pytest

    from indexr_spark.streaming.dedup import neardup_store_sink

    store_dir = str(tmp_path / "sigstore")
    b = spark.createDataFrame([(1, "alpha beta gamma")], SCHEMA)
    neardup_store_sink(store_dir, bands=4, app_id="m1")(b, 0)
    with pytest.raises(ValueError, match="bands=4.*bands=2"):
        neardup_store_sink(store_dir, bands=2, app_id="m1")(
            spark.createDataFrame([(2, "delta")], SCHEMA), 1
        )
    # matching banding continues fine
    neardup_store_sink(store_dir, bands=4, app_id="m1")(
        spark.createDataFrame([(2, "delta epsilon zeta")], SCHEMA), 1
    )


def test_dedup_store_sink_reads_store_by_key_schema(spark, tmp_path, monkeypatch):
    """The sink reads the store typed by the batch's key columns, so a
    micro-batch pays no footer-inference job: the same batch through a
    sink whose store read infers its schema runs one job more."""
    from indexr_spark.sources import snapshots

    store_dir = str(tmp_path / "store")
    seed = spark.createDataFrame([(1, "alpha")], SCHEMA).withColumn("h", F.md5("text"))
    dedup_store_sink(store_dir, ["h"], app_id="t1")(seed, 0)
    batch = spark.createDataFrame([(2, "alpha"), (3, "beta")], SCHEMA).withColumn(
        "h", F.md5("text")
    )
    sc = spark.sparkContext

    def jobs(sink, epoch: int, group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            sink(batch, epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    typed = jobs(dedup_store_sink(store_dir, ["h"], app_id="t1"), 1, "dedup_sink_typed")
    real = snapshots.read_snapshot
    monkeypatch.setattr(
        snapshots, "read_snapshot", lambda s, p, schema=None: real(s, p)
    )
    inferred = jobs(dedup_store_sink(store_dir, ["h"], app_id="t2"), 0, "dedup_sink_inferred")
    assert inferred == typed + 1, (typed, inferred)
    assert sorted(r.text for r in read_snapshot(spark, store_dir).collect()) == [
        "alpha",
        "beta",
    ]
