"""Persisted IVF store: build → cell-partitioned layout → nprobe probes."""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest
from pyspark.sql import functions as F

from indexr_spark.operators.similarity import _dot
from indexr_spark.sources.vector_store import build_ivf_store, ivf_probe
from tests.conftest import SMOKE_SF


def test_build_and_probe(spark, tmp_path):
    store = str(tmp_path / "ivf")
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    centroids = build_ivf_store(spark, emb, store, n_cells=8)
    assert len(centroids) == 8 and len(centroids[0]) == 64

    out = spark.read.parquet(store)
    assert out.count() == emb.count()
    cells = {d for d in os.listdir(store) if d.startswith("cell=")}
    assert len(cells) > 1

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    res = ivf_probe(spark, store, queries, k=3, nprobe=2)
    rows = res.collect()
    assert {r.q_id for r in rows} == {0, 1, 2}
    assert all(1 <= r.rank <= 3 for r in rows)

    # scan statically prunes to the probed cells (≤ 3 queries × 2 cells)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and " IN (" in pf[0]
    probed = {s.strip() for s in pf[0].split(" IN (")[1].split(")")[0].split(",")}
    assert len(probed) <= 6

    # exactness within the candidate set: brute-force over the same
    # probed cells must agree for q_id=0
    e = F.col("embedding").cast("array<double>")
    store_df = (
        spark.read.parquet(store)
        .withColumn("e", e)
        .withColumn("nrm", F.sqrt(_dot(e, e)))
    )
    q0 = [r for r in rows if r.q_id == 0]
    q0_cells = [int(c) for c in probed]  # superset of q0's own cells is fine
    qe = emb.filter(F.col("vec_id") == 0).select(e.alias("qe")).collect()[0]["qe"]
    qn = sum(x * x for x in qe) ** 0.5
    cos = _dot(F.array(*[F.lit(x) for x in qe]), F.col("e")) / (F.lit(qn) * F.col("nrm"))
    # restrict to q0's actual probed cells: recompute them the same way
    from indexr_spark.sources.vector_store import CENTROIDS_NAME
    import json, math

    cents = json.load(open(os.path.join(store, CENTROIDS_NAME)))
    scored = sorted(
        (
            (
                sum(a * b for a, b in zip(qe, cv))
                / (qn * (math.sqrt(sum(x * x for x in cv)) or 1.0)),
                cell,
            )
            for cell, cv in enumerate(cents)
        ),
        key=lambda t: (-t[0], t[1]),
    )
    my_cells = [c for _, c in scored[:2]]
    brute = (
        store_df.filter(F.col("cell").isin(my_cells) & (F.col("vec_id") != 0))
        .select("vec_id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(3)
        .collect()
    )
    assert [(r.vec_id, r.cosine) for r in q0] == [(r.vec_id, r.cosine) for r in brute]

    # nprobe dial: probing more cells can only widen the candidate set
    res_all = ivf_probe(spark, store, queries, k=3, nprobe=8)
    assert res_all.count() == res.count()


def test_build_with_trained_quantizer(spark, tmp_path):
    """train_iters > 1 routes the quantizer build through kmeans_fit:
    the store must stay complete and probe-able, and the extra Lloyd
    rounds must actually move the model (a trained quantizer that
    equals the 1-step one would mean the wiring is dead)."""
    import json

    from indexr_spark.sources.vector_store import CENTROIDS_NAME

    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    store1 = str(tmp_path / "ivf1")
    store4 = str(tmp_path / "ivf4")
    c1 = build_ivf_store(spark, emb, store1, n_cells=8)
    c4 = build_ivf_store(spark, emb, store4, n_cells=8, train_iters=4)
    assert len(c4) == 8 and len(c4[0]) == 64
    assert c4 != c1
    assert json.load(open(os.path.join(store4, CENTROIDS_NAME))) == c4

    out = spark.read.parquet(store4)
    assert out.count() == emb.count()
    assert {d for d in os.listdir(store4) if d.startswith("cell=")}

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    rows = ivf_probe(spark, store4, queries, k=3, nprobe=2).collect()
    assert {r.q_id for r in rows} == {0, 1, 2}
    assert all(1 <= r.rank <= 3 for r in rows)


def test_zero_norm_query_matches_python_reference(spark, tmp_path):
    """A zero query vector takes norm 1.0: its cosines are 0.0 (not
    NULL) and its probed cells are the reference's — every centroid
    scores 0, so ties go to the lowest cells. Checked against a plain
    Python probe over the centroid file and the store rows."""
    import json
    import math

    from pyspark.sql import Row

    from indexr_spark.sources.vector_store import CENTROIDS_NAME

    store = str(tmp_path / "ivf")
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    build_ivf_store(spark, emb, store, n_cells=4)
    dim = len(emb.select("embedding").first()["embedding"])
    qe = [0.0] * dim
    q = spark.createDataFrame([Row(q_id=999, embedding=qe)])
    got = [tuple(r) for r in ivf_probe(spark, store, q, k=3, nprobe=2).collect()]

    cents = json.load(open(os.path.join(store, CENTROIDS_NAME)))
    qn = math.sqrt(sum(x * x for x in qe)) or 1.0
    scored = sorted(
        (
            -sum(a * b for a, b in zip(qe, cv))
            / (qn * (math.sqrt(sum(x * x for x in cv)) or 1.0)),
            cell,
        )
        for cell, cv in enumerate(cents)
    )
    cells = [c for _, c in scored[:2]]
    cands = []
    for r in spark.read.parquet(store).filter(F.col("cell").isin(cells)).collect():
        e = [float(x) for x in r["embedding"]]
        cos = sum(a * b for a, b in zip(qe, e)) / (qn * math.sqrt(sum(x * x for x in e)))
        cands.append((-round(cos, 6), r["vec_id"]))
    want = [(999, i + 1, vid, -c) for i, (c, vid) in enumerate(sorted(cands)[:3])]
    assert got == want
    assert all(r[3] == 0.0 for r in got)


@pytest.mark.parametrize("probe", ["ivf_probe", "ivfpq_probe", "ann_probe"])
def test_probe_runs_a_10k_query_batch(spark, tmp_path, monkeypatch, probe):
    """One probe serves every batch size: 10k queries get k rows each,
    the scan keeps a static partition IN list no longer than the
    store's partition count, and the only rows the probe collects are
    the distinct probed partitions (never the query rows)."""
    from pyspark.sql import Row

    from indexr_spark.operators.similarity import ANN_PLANES
    from indexr_spark.sources.vector_store import build_ivfpq_store, ivfpq_probe
    from indexr_spark.streaming.ann import ann_probe, bucket_expr

    store = str(tmp_path / "store")
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    if probe == "ivf_probe":
        build_ivf_store(spark, emb, store, n_cells=8)
        run, n_parts = (lambda q: ivf_probe(spark, store, q, k=3, nprobe=2)), 8
    elif probe == "ivfpq_probe":
        build_ivfpq_store(spark, emb, store, n_cells=8, m=16, ksub=16, pq_iters=2)
        run, n_parts = (
            lambda q: ivfpq_probe(spark, store, q, k=3, nprobe=2, rerank_from=8)
        ), 8
    else:
        emb.withColumn("bucket", bucket_expr(F.col("embedding"))).write.partitionBy(
            "bucket"
        ).parquet(store)
        run, n_parts = (lambda q: ann_probe(spark, store, q, k=3)), 1 << ANN_PLANES

    # 10k queries tiling 100 corpus embeddings under new ids
    base = emb.select("embedding").limit(100).collect()
    big = spark.createDataFrame(
        [
            Row(q_id=int(1000 + i), embedding=base[i % len(base)]["embedding"])
            for i in range(10_000)
        ]
    )
    frame = type(big)
    collected = []
    real_collect = frame.collect

    def spy(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    with monkeypatch.context() as mp:
        mp.setattr(frame, "collect", spy)
        res = run(big)
    assert collected and all(n <= n_parts for n in collected), collected

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf
    for ln in pf:
        # Spark prints a long IN list as INSET
        static = re.search(r"(?: IN \(| INSET )([-\d, ]+)", ln)
        assert static, ln
        assert len([v for v in static.group(1).split(",") if v.strip()]) <= n_parts
    out = res.groupBy("q_id").count()
    assert out.count() == 10_000
    assert out.filter(F.col("count") != 3).count() == 0


def test_neardup_numpy_matches_catalyst_pair_set(spark):
    """The BLAS blocked verify (neardup_pairs_numpy — the 100 TB
    throughput path) must reproduce the oracle-exact Catalyst path's
    pair set on the test corpus: same (a_id, b_id) pairs, same 6dp
    cosines. numpy's different summation order could in principle flip
    a cosine sitting exactly on a rounding boundary — this corpus has
    none, which is exactly why the numpy form stays out of the
    oracle-scored registry and d10 remains the reference."""
    from pyspark.sql import functions as F

    from indexr_spark.functions.joins import chunked_self_join
    from indexr_spark.operators import similarity as S
    from indexr_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    np_pairs = {
        (r.a_id, r.b_id, r.cosine) for r in S.neardup_pairs_numpy(emb).collect()
    }
    embb = S._with_norm(load_table(spark, sf, "embeddings"))
    embb = embb.join(S._bucket_of(spark, embb), "vec_id")
    j = chunked_self_join(embb, key_cols=["bucket"], order_col="vec_id")
    cos = S._dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    # filter on the RAW cosine then round — d10's exact order (a
    # round-then-filter reference would diverge at a rounding boundary)
    cat = {
        (r.a_id, r.b_id, r.cosine)
        for r in j.select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos.alias("raw"),
        )
        .filter(F.col("raw") >= S.NEARDUP_THRESHOLD)
        .select("a_id", "b_id", F.round("raw", 6).alias("cosine"))
        .collect()
    }
    assert np_pairs == cat and len(np_pairs) > 0


def test_neardup_numpy_and_catalyst_both_drop_zero_vectors(spark):
    """Zero-norm vectors: the Catalyst path's cosine is NULL (non-ANSI
    0.0/0.0 -> NULL, dropped by the threshold filter) and the numpy
    path substitutes norm 1 giving cosine 0.0 (also below threshold) —
    both paths DROP every pair involving a zero vector, so the
    equivalence contract holds on hostile inputs too. (Pins the
    refutation of a review hypothesis that Spark would produce NaN
    here and NaN >= threshold would emit the pair; the session's
    non-ANSI arithmetic pin makes the division NULL, not NaN.)"""
    from indexr_spark.operators import similarity as S

    rows = [
        (0, [0.0] * 8, "a"),
        (1, [1.0] * 8, "a"),
        (2, [1.0] * 8, "a"),
        (3, [0.0] * 8, "a"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    pairs = sorted(
        (r.a_id, r.b_id) for r in S.neardup_pairs_numpy(df.select("vec_id", "embedding")).collect()
    )
    assert pairs == [(1, 2)]  # only the genuine near-dup; no zero-vector pairs
