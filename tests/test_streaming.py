"""Realtime ingest → rt segments → hybrid read → compaction tests.

Drives the full reference lifecycle (SURVEY.md §3.3) on a JSON file
stream: events with aliases/tags/missing fields → streaming rollup →
epoch-keyed rt segments → HybridTable union read → RTSMerge-style
compaction into the sorted historical table.
"""

from __future__ import annotations

import json
import os
import random

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
)
from indexr_spark.sources.segments import write_segments
from indexr_spark.streaming.ingest import compact, prepare_events, snapshot_sink, start_ingest

SPEC = TableSpec(
    name="metrics",
    columns=[
        ColumnSpec("day", "int"),
        ColumnSpec("d1", "varchar", index=True),
        ColumnSpec("m_sum", "bigint"),
        ColumnSpec("m_min", "bigint"),
        ColumnSpec("m_first", "double", default=-0.1),
    ],
    realtime=RealtimeSpec(
        aliases={"d1_alias": "d1"},
        tag_field="tag",
        accept_tags=["keep", "gold"],
        agg=AggSchema(
            grouping=True,
            dims=["day", "d1"],
            metrics=[
                Metric("m_sum", "sum"),
                Metric("m_min", "min"),
                Metric("m_first", "first"),
            ],
        ),
    ),
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("d1_alias", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("m_sum", T.LongType()),
        T.StructField("m_min", T.LongType()),
        T.StructField("m_first", T.DoubleType()),
    ]
)


def _write_events(path: str, name: str, events: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


BATCH1 = [
    # two events on the same dims -> rolled up in-batch
    {"seq": 1, "day": 1, "d1_alias": "a", "tag": "keep", "m_sum": 10, "m_min": 5, "m_first": 1.0},
    {"seq": 2, "day": 1, "d1_alias": "a", "tag": "keep,x", "m_sum": 20, "m_min": 3, "m_first": 2.0},
    # different dim
    {"seq": 3, "day": 1, "d1_alias": "b", "tag": "gold", "m_sum": 7, "m_min": 9, "m_first": 3.0},
    # dropped by tag filter
    {"seq": 4, "day": 1, "d1_alias": "a", "tag": "junk", "m_sum": 999, "m_min": 0, "m_first": 9.0},
    # missing m_first -> default -0.1
    {"seq": 5, "day": 2, "d1_alias": "c", "tag": "keep", "m_sum": 1, "m_min": 1},
]

BATCH2 = [
    # same dims as batch-1 group (a,1): merged only at compaction;
    # seq is EARLIER than batch 1 -> compacted first must come from here
    {"seq": 0, "day": 1, "d1_alias": "a", "tag": "gold", "m_sum": 100, "m_min": 4, "m_first": 0.5},
]


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("rtcat")
    cat = Catalog(str(root))
    cat.save(SPEC)
    src = str(root / "incoming")
    _write_events(src, "b1.jsonl", BATCH1)

    def run_stream():
        events = spark.readStream.schema(EVENT_SCHEMA).json(src)
        q = start_ingest(
            spark, events, cat, "metrics", order_col="seq", available_now=True
        )
        q.awaitTermination(120)

    run_stream()
    _write_events(src, "b2.jsonl", BATCH2)
    run_stream()  # second availableNow run picks up only the new file
    return cat


def test_rt_segments_rolled_up_per_batch(spark, ingested):
    rt = spark.read.parquet(ingested.rt_dir("metrics"))
    rows = {
        (r.day, r.d1): (r.m_sum, r.m_min, r.m_first)
        for r in rt.filter(F.col("batch") == 0).collect()
    }
    # batch 0: (1,a) rolled from seq 1+2; junk-tagged seq 4 dropped
    assert rows[(1, "a")] == (30, 3, 1.0)
    assert rows[(1, "b")] == (7, 9, 3.0)
    assert rows[(2, "c")][2] == pytest.approx(-0.1)  # default applied


def test_hybrid_read_sees_rt(spark, ingested):
    hybrid = ingested.read_hybrid(spark, "metrics")
    # no historical yet -> hybrid == rt (4 groups: 3 from b1, 1 from b2)
    assert hybrid.count() == 4
    total = hybrid.groupBy("day", "d1").agg(F.sum("m_sum").alias("s"))
    got = {(r.day, r.d1): r.s for r in total.collect()}
    assert got[(1, "a")] == 130  # 30 (batch0) + 100 (batch1)


def test_compaction_merges_and_clears(spark, ingested):
    moved = compact(spark, ingested, "metrics")
    assert moved == 3  # (1,a) (1,b) (2,c)
    assert not os.path.isdir(ingested.rt_dir("metrics"))

    hist = ingested.read(spark, "metrics")
    rows = {(r.day, r.d1): (r.m_sum, r.m_min, r.m_first) for r in hist.collect()}
    # sum merged across batches; first taken from seq=0 (batch 2)
    assert rows[(1, "a")] == (130, 3, 0.5)
    assert rows[(1, "b")] == (7, 9, 3.0)
    # sidecar exists for the compacted table (prunable immediately)
    from indexr_spark.sources.segments import load_sidecar

    assert load_sidecar(ingested.table_dir("metrics"))[0]

    # second compact is a no-op
    assert compact(spark, ingested, "metrics") == 0


def test_prepare_events_batch_semantics(spark):
    df = spark.createDataFrame(
        [(1, 1, "x", "keep", None, None, None)], EVENT_SCHEMA
    )
    spec = SPEC
    out = prepare_events(df, spec)
    row = out.collect()[0]
    assert row.d1 == "x"  # alias applied
    assert row.m_first == pytest.approx(-0.1)  # default fills null

    # ignore_empty drops all-null-metric events
    import dataclasses

    rt = dataclasses.replace(spec.realtime, ignore_empty=True)
    spec2 = dataclasses.replace(spec, realtime=rt)
    # m_first gets a default, so null-ness is tested before defaults?
    # No: defaults apply after the ignore filter by design — an event
    # carrying no metrics at all is dropped even though m_first has a
    # declared default.
    assert prepare_events(df, spec2).count() == 0


def test_crash_recovery_snapshot_sink(spark, tmp_path):
    """VERDICT r5 task 4 — chaos test: kill a RUNNING stream mid-epoch,
    in the worst window (snapshot append committed, checkpoint not),
    restart from the same checkpoint, and assert exact row counts and
    gap-free history. This drives the exactly-once guard through a
    real StreamExecution crash/replay rather than a synthetic replayed
    epoch id."""
    from indexr_spark.sources import snapshots as S
    from indexr_spark.sources.catalog import ColumnSpec, TableSpec
    from indexr_spark.streaming.ingest import snapshot_sink

    spec = TableSpec(
        name="chaos",
        columns=[ColumnSpec("k", "int"), ColumnSpec("v", "double")],
        sort_by=["k"],
    )
    src = str(tmp_path / "src")
    sdir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for i in range(3):  # one file per epoch under maxFilesPerTrigger=1
        _write_events(
            src, f"f{i}.jsonl", [{"k": i * 10 + j, "v": float(i)} for j in range(5)]
        )

    inner = snapshot_sink(spec, sdir, app_id="chaos")
    crashed = {"done": False}

    def sink(batch, epoch_id):
        inner(batch, epoch_id)  # the append COMMITS...
        if epoch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            # ...then the process "dies" before the checkpoint commit —
            # exactly the window where naive sinks double-append
            raise RuntimeError("chaos: dying after commit, before checkpoint")

    def start():
        events = (
            spark.readStream.schema("k int, v double")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        return (
            events.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="chaos"):
        q.awaitTermination(120)
    assert crashed["done"], "the crash never fired"
    # the crashed epoch's rows ARE committed (crash hit post-append)
    assert S.read_snapshot(spark, sdir).count() == 10

    # restart from the same checkpoint: Spark replays epoch 1 (the
    # guard must skip it), then processes epoch 2
    q2 = start()
    q2.awaitTermination(120)
    got = sorted(r.k for r in S.read_snapshot(spark, sdir).collect())
    assert got == sorted(i * 10 + j for i in range(3) for j in range(5)), (
        "crash/replay must neither drop nor double-append an epoch"
    )
    hist = S.snapshot_history(spark, sdir).collect()
    assert sorted(r.version for r in hist) == list(
        range(1, len(hist) + 1)
    ), "gap in snapshot history after crash recovery"
    assert S.max_committed_meta(sdir, "epoch_chaos") == 2


# ------------------------------------------------------------------
# The AggType rollup (sum/min/max/first/last) against one plain-Python
# reference, through every path that rolls up: write_segments at load
# time, and start_ingest's per-batch rollup re-merged by compact().

ROLLUP_AGG = AggSchema(
    grouping=True,
    dims=["g"],
    metrics=[
        Metric("s", "sum"),
        Metric("mn", "min"),
        Metric("mx", "max"),
        Metric("f", "first"),
        Metric("l", "last"),
    ],
)
ROLLUP_SPEC = TableSpec(
    name="t",
    columns=[
        ColumnSpec("g", "varchar"),
        ColumnSpec("s", "bigint"),
        ColumnSpec("mn", "bigint"),
        ColumnSpec("mx", "bigint"),
        ColumnSpec("f", "double"),
        ColumnSpec("l", "double"),
    ],
    realtime=RealtimeSpec(agg=ROLLUP_AGG),
)
ROLLUP_EVENTS = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("g", T.StringType()),
        T.StructField("s", T.LongType()),
        T.StructField("mn", T.LongType()),
        T.StructField("mx", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("l", T.DoubleType()),
    ]
)


def _rollup_events(seqs: list[int], rng: random.Random) -> list[dict]:
    out = []
    for q in seqs:
        v = rng.randint(-50, 50)
        out.append(
            {"seq": q, "g": rng.choice("abcd"), "s": v, "mn": v, "mx": v,
             "f": float(rng.randint(0, 999)), "l": float(rng.randint(0, 999))}
        )
    return out


def _rollup_reference(events: list[dict]) -> dict:
    """{g: (sum, min, max, f at the smallest seq, l at the largest)}."""
    groups: dict[str, list[dict]] = {}
    for e in events:
        groups.setdefault(e["g"], []).append(e)
    out = {}
    for g, es in groups.items():
        first = min(es, key=lambda e: e["seq"])
        last = max(es, key=lambda e: e["seq"])
        out[g] = (
            sum(e["s"] for e in es),
            min(e["mn"] for e in es),
            max(e["mx"] for e in es),
            first["f"],
            last["l"],
        )
    return out


def _rolled(df) -> dict:
    return {r.g: (r.s, r.mn, r.mx, r.f, r.l) for r in df.collect()}


def test_write_segments_rollup_matches_reference(spark, tmp_path):
    rng = random.Random(7)
    seqs = list(range(40))
    rng.shuffle(seqs)
    events = _rollup_events(seqs, rng)
    out = str(tmp_path / "seg")
    df = spark.createDataFrame(events, ROLLUP_EVENTS)
    write_segments(df, out, sort_by=["g"], agg=ROLLUP_AGG, order_col="seq")
    assert _rolled(spark.read.parquet(out)) == _rollup_reference(events)


def test_ingest_then_compact_matches_reference(spark, tmp_path):
    """Two event files whose seq ranges interleave: the second file
    holds both the earliest and the latest events of some groups, so
    compaction's re-rollup (not either batch alone) decides first and
    last."""
    rng = random.Random(11)
    seqs = list(range(60))
    rng.shuffle(seqs)
    b1, b2 = _rollup_events(seqs[:30], rng), _rollup_events(seqs[30:], rng)
    cat = Catalog(str(tmp_path / "cat"))
    cat.save(ROLLUP_SPEC)
    src = str(tmp_path / "incoming")

    def run_stream():
        events = spark.readStream.schema(ROLLUP_EVENTS).json(src)
        q = start_ingest(spark, events, cat, "t", order_col="seq", available_now=True)
        q.awaitTermination(120)

    _write_events(src, "b1.jsonl", b1)
    run_stream()
    _write_events(src, "b2.jsonl", b2)
    run_stream()
    ref = _rollup_reference(b1 + b2)
    # the merge decides first/last: batch 1 alone gets some group wrong
    assert any(v[3:] != ref[g][3:] for g, v in _rollup_reference(b1).items())
    assert compact(spark, cat, "t") == len(ref)
    assert _rolled(spark.read.parquet(cat.table_dir("t"))) == ref


def test_first_last_without_order_col_fails_up_front(spark, tmp_path):
    """A first/last metric with no order_col is refused with its named
    cause when the stream is set up, not inside its first micro-batch;
    compaction refuses rt batches that carry no order bounds."""
    cat = Catalog(str(tmp_path / "cat"))
    cat.save(ROLLUP_SPEC)
    src = str(tmp_path / "incoming")
    _write_events(src, "b1.jsonl", _rollup_events([0, 1], random.Random(1)))
    events = spark.readStream.schema(ROLLUP_EVENTS).json(src)
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="first/last rollup requires order_col"):
        start_ingest(spark, events, cat, "t", checkpoint_dir=str(tmp_path / "ckpt"))
    assert len(spark.streams.active) == active  # nothing started
    with pytest.raises(ValueError, match="first/last rollup requires order_col"):
        snapshot_sink(ROLLUP_SPEC, str(tmp_path / "snap"))

    rows = [("a", 1, 1, 1, 1.0, 1.0)]
    spark.createDataFrame(rows, "g string, s long, mn long, mx long, f double, l double") \
        .write.parquet(os.path.join(cat.rt_dir("t"), "batch=0"))
    with pytest.raises(ValueError, match="first/last rollup requires order_col"):
        compact(spark, cat, "t")
