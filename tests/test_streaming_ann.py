"""Streaming ANN ingest → bucketed store → partition-pruned probe.

Drives the vector half of the realtime story: embeddings arrive as a
stream, the LSH bucket is assigned in-flight (same planes as the
batch s04 operator), the store lands bucket-partitioned through the
exactly-once streaming file sink, and probes prune to the query's
bucket partition.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from indexr_spark.operators.similarity import _dot
from indexr_spark.streaming.ann import ann_probe, bucket_expr, start_ann_ingest
from tests.conftest import SMOKE_SF


def test_stream_ingest_and_probe(spark, tmp_path):
    src = str(tmp_path / "incoming")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    n_total = emb.count()
    schema = emb.schema

    # two arrival batches
    os.makedirs(src)
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(os.path.join(src, "b1"))
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(os.path.join(src, "b2"))
    for b in ("b1", "b2"):
        for f in os.listdir(os.path.join(src, b)):
            if f.endswith(".parquet"):
                shutil.move(os.path.join(src, b, f), os.path.join(src, f"{b}_{f}"))
        shutil.rmtree(os.path.join(src, b))

    stream = spark.readStream.schema(schema).parquet(src)
    q = start_ann_ingest(stream, store, ckpt, available_now=True)
    q.awaitTermination(120)

    out = spark.read.parquet(store)
    assert out.count() == n_total
    # bucket dirs exist and agree with the batch assignment
    buckets = {d for d in os.listdir(store) if d.startswith("bucket=")}
    assert len(buckets) > 1
    expected = emb.select(
        "vec_id", bucket_expr(F.col("embedding")).alias("b")
    )
    got = out.select("vec_id", F.col("bucket").alias("b2"))
    assert expected.join(got, "vec_id").filter(F.col("b") != F.col("b2")).count() == 0

    # probe: top-3 within the query's bucket, partition-pruned scan
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    res = ann_probe(spark, store, queries, k=3)
    rows = res.collect()
    assert {r.q_id for r in rows} <= {0, 1, 2}
    assert all(r.rank <= 3 for r in rows)

    # the probe SCAN carries a static partition filter over exactly
    # the probed buckets (inputFiles() reflects the unfiltered
    # relation, so the plan is the honest gate)
    import contextlib
    import io

    q_buckets = {
        r.b for r in queries.select(bucket_expr(F.col("embedding")).alias("b")).collect()
    }
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    pf_lines = [
        ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines, "probe scan lost its partition filter"
    in_clause = pf_lines[0].split(" IN (")[1].split(")")[0]
    assert {s.strip() for s in in_clause.split(",")} == {str(b) for b in q_buckets}

    # brute-force agreement within the probed bucket (exactness of the
    # cosine ranking given the candidate set)
    e = F.col("embedding").cast("array<double>")
    full = spark.read.parquet(store).withColumn("nrm", F.sqrt(_dot(e, e)))
    q0 = full.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qb"),
    )
    cos = _dot(F.col("qe"), F.col("embedding").cast("array<double>")) / (
        F.col("qn") * F.col("nrm")
    )
    brute = (
        full.crossJoin(F.broadcast(q0))
        .filter((F.col("bucket") == F.col("qb")) & (F.col("vec_id") != 0))
        .select("vec_id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(3)
        .collect()
    )
    probe0 = [r for r in rows if r.q_id == 0]
    assert [(r.vec_id, r.cosine) for r in probe0] == [
        (r.vec_id, r.cosine) for r in brute
    ]


def test_multiprobe_widens_recall_without_rebuild(spark, tmp_path):
    """flips=F probes F extra Hamming-1 buckets per query: results for
    flips=0 must be unchanged vs the default; recall vs the
    brute-force global top-k must be monotone non-decreasing in flips
    (full recall is NOT guaranteed — a neighbor can sit at Hamming
    distance 2 — so monotonicity is the honest claim); the interactive
    probe's static partition filter must list at most (1+F)·|queries|
    buckets."""
    import contextlib
    import io

    from indexr_spark.operators.similarity import ANN_PLANES

    store = str(tmp_path / "store")
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    emb.withColumn("bucket", bucket_expr(F.col("embedding"))).write.partitionBy(
        "bucket"
    ).parquet(store)

    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # brute-force global top-3 (the recall reference)
    e = F.col("embedding").cast("array<double>")
    full = emb.select("vec_id", e.alias("e")).withColumn(
        "nrm", F.sqrt(_dot(F.col("e"), F.col("e")))
    )
    qn = queries.select(
        F.col("q_id"), e.alias("qe")
    ).withColumn("qn", F.sqrt(_dot(F.col("qe"), F.col("qe"))))
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    truth = {
        (r.q_id, r.vec_id)
        for r in full.crossJoin(F.broadcast(qn))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }

    base = ann_probe(spark, store, queries, k=3).collect()
    assert [tuple(r) for r in ann_probe(spark, store, queries, k=3, flips=0).collect()] == [
        tuple(r) for r in base
    ]

    prev_recall = -1.0
    for flips in (0, 1, 2, ANN_PLANES):
        res = ann_probe(spark, store, queries, k=3, flips=flips)
        rows = res.collect()
        got = {(r.q_id, r.vec_id) for r in rows}
        recall = len(got & truth) / len(truth)
        assert recall >= prev_recall - 1e-9, (flips, recall, prev_recall)
        prev_recall = recall
        # widening the probe set can only improve each query's top-k
        # cosine floor; previous result pairs need not survive (better
        # candidates displace them), which is why the monotone claim
        # is on recall, not on set containment.
        # static filter bounded by the probed bucket count
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            res.explain("formatted")
        pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
        assert pf, "multiprobe lost its static filter"
        if " IN (" in pf[0]:
            n_buckets = len(pf[0].split(" IN (")[1].split(")")[0].split(","))
            assert n_buckets <= (1 + flips) * 8
