"""Persisted IVF vector store — build once, probe many.

The batch IVF operator (operators/similarity.s06) rebuilds its coarse
quantizer per query. This module persists the two-level ANN layout the
way a 100 TB deployment would:

    <store>/cell=<id>/...parquet     corpus partitioned by nearest cell
    <store>/_centroids.json          the k×dim coarse quantizer (tiny)

Build: deterministic mini-kmeans — the k lowest vec_ids seed the
centroids, one Lloyd step refines them (assign → per-cell mean), then
vectors land partitioned by their final cell. Assignment is an in-row
argmax against literal centroid arrays (zero shuffles); the only wide
operations are the one Lloyd aggregation and the partitioned write.

Probe: one path at any batch size. The query side (q_id, qe, qn) and
each query's `nprobe` nearest cells are derived in-row against the
centroids (a k×dim literal); the probe's one eager job collects the
DISTINCT probed cells (≤ k values) so the scan statically prunes to
those `cell=` partitions before exact cosine ranks candidates —
`nprobe` is the recall/cost dial s06 (nprobe=1) doesn't expose. The
streaming LSH store's ann_probe (streaming/ann.py) runs the same
probe with buckets in place of cells.

build_ivfpq_store / ivfpq_probe add the memory half of the layout
(IVF-PQ): a `pq_code` column (operators/pq.py) lets the candidate
scan rank by ADC without ever decoding the embedding column, and the
exact-cosine rerank keeps only the per-query shortlist — see
build_ivfpq_store's docstring for the economics.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from indexr_spark.operators.similarity import (
    _argmax_cell,
    _dot,
    _dots_2d,
    _lit_array,
    _unit_scaled,
)

CENTROIDS_NAME = "_centroids.json"


def _assign_cell(centroids: list[list[float]]):
    """In-row argmax cell id over a single 2-D centroid literal (cosine;
    ties → lower cell id). Expects columns e (array<double>), nrm.
    Delegates to the constant-size expression in operators/similarity —
    the per-centroid struct fan it replaces was the r3 s06 regression."""
    return _argmax_cell(centroids).cast("int").alias("cell")


def _prepared(vectors: DataFrame) -> DataFrame:
    e = F.col("embedding").cast("array<double>")
    return vectors.withColumn("e", e).withColumn("nrm", F.sqrt(_dot(e, e)))


def _train_centroids(
    vectors: DataFrame, prep: DataFrame, n_cells: int, train_iters: int
) -> list[list[float]]:
    """The coarse-quantizer training shared by build_ivf_store and
    build_ivfpq_store (extracted unchanged from build_ivf_store)."""
    if train_iters > 1:
        from indexr_spark.operators.similarity import kmeans_fit

        centroids, _ = kmeans_fit(vectors, k=n_cells, max_iters=train_iters)
        if not centroids:
            raise ValueError("cannot build an IVF store over an empty corpus")
        return centroids
    seeds = [
        [float(x) for x in r["e"]]
        for r in prep.orderBy("vec_id").limit(n_cells).select("e").collect()
    ]
    if not seeds:
        raise ValueError("cannot build an IVF store over an empty corpus")
    n_cells = min(n_cells, len(seeds))  # fewer vectors than cells: clamp
    # one Lloyd step: assign to seeds, recompute per-cell means
    assigned = prep.withColumn("cell", _assign_cell(seeds))
    means = (
        assigned.select("cell", F.posexplode("e").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in means:
        by_cell.setdefault(r["cell"], {})[r["dim"]] = r["c"]
    dim = len(seeds[0])
    return [
        [by_cell.get(c, {}).get(d, seeds[c][d]) for d in range(dim)]
        for c in range(n_cells)
    ]


def build_ivf_store(
    spark: SparkSession,
    vectors: DataFrame,
    store_dir: str,
    n_cells: int = 8,
    train_iters: int = 1,
) -> list[list[float]]:
    """Build the store from (vec_id, embedding, ...) rows; returns the
    final centroids. One seed collect (k rows), `train_iters` Lloyd
    aggregations (operators/similarity.kmeans_fit when > 1 — extra
    iterations tighten cell balance, which is what bounds worst-case
    probe cost at a fixed nprobe), one partitioned write."""
    prep = _prepared(vectors)
    centroids = _train_centroids(vectors, prep, n_cells, train_iters)
    final = prep.withColumn("cell", _assign_cell(centroids)).drop("e", "nrm")
    final.write.mode("overwrite").partitionBy("cell").parquet(store_dir)
    with open(os.path.join(store_dir, CENTROIDS_NAME), "w") as f:
        json.dump(centroids, f)
    return centroids


def _load(store_dir: str, name: str):
    with open(os.path.join(store_dir, name)) as f:
        return json.load(f)


def _query_side(queries: DataFrame) -> DataFrame:
    """(q_id, qe, qn) from (q_id, embedding) rows — the query side every
    ANN store's probe shares, derived in-row. A zero query vector takes
    norm 1.0 (its cosines are 0.0, never NULL)."""
    qe = F.col("embedding").cast("array<double>")
    qn = F.sqrt(_dot(qe, qe))
    return queries.select(
        "q_id",
        qe.alias("qe"),
        F.coalesce(F.nullif(qn, F.lit(0.0)), F.lit(1.0)).alias("qn"),
    )


def _probe_cells(q: DataFrame, centroids: list[list[float]], nprobe: int) -> DataFrame:
    """One row per (query, probed cell): each query's `nprobe` nearest
    cells by cosine, picked in-row. The centroids fold through the
    shared _dots_2d 2-D literal, 1/|c|-scaled driver-side; dividing by
    qn is per-row constant, so it is skipped. array_sort on (dot, -cell)
    structs sorts ascending on both, so reversing yields score desc
    with ties broken toward the LOWER cell id."""
    dots = _dots_2d(F.col("qe"), _unit_scaled(centroids))
    neg = F.lit([-c for c in range(len(centroids))])
    cands = F.zip_with(dots, neg, lambda d, nc: F.struct(d.alias("c"), nc.alias("nc")))
    top = F.slice(F.reverse(F.array_sort(cands)), 1, nprobe)
    return q.withColumn(
        "cell", F.explode(F.transform(top, lambda s: (-s["nc"]).cast("int")))
    )


def _probed_store(
    spark: SparkSession, store_dir: str, probes: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """(probes, the store statically pruned to the partitions `probes`
    names). The probe's one eager job collects the DISTINCT probed
    `key` values — at most the store's partition count, at any batch
    size — so the scan plans over only those `key=` directories. The
    probe rows are checkpointed lazily, so that job also computes them
    once and the probe's plan reads them back instead of re-running the
    query side."""
    probes = probes.localCheckpoint(eager=False)
    keys = sorted(r[0] for r in probes.select(key).distinct().collect())
    return probes, spark.read.parquet(store_dir).filter(F.col(key).isin(keys))


def _cosine() -> Column:
    return _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Ranking tail of every probe: top-k (q_id, vec_id, cos) per
    query, ties → lower vec_id, cosine rounded to 6 places."""
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


def _probe_topk(
    spark: SparkSession, store_dir: str, probes: DataFrame, key: str, k: int
) -> DataFrame:
    """Exact-cosine top-k over the probed partitions: `probes` holds
    (q_id, qe, qn, key) rows, broadcast and equi-joined on `key`
    against the pruned store (a query never ranks itself)."""
    probes, store = _probed_store(spark, store_dir, probes, key)
    pairs = (
        _prepared(store)
        .join(F.broadcast(probes), [key])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _cosine().alias("cos"))
    )
    return _rank_topk(pairs, k)


def ivf_probe(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k cosine neighbours per query over its `nprobe` nearest
    cells. `queries` needs (q_id, embedding); the cells are picked
    in-row and the scan carries a static filter over the probed ones."""
    probes = _probe_cells(
        _query_side(queries), _load(store_dir, CENTROIDS_NAME), nprobe
    )
    return _probe_topk(spark, store_dir, probes, "cell", k)


PQ_META_NAME = "_pq.json"


def build_ivfpq_store(
    spark: SparkSession,
    vectors: DataFrame,
    store_dir: str,
    n_cells: int = 8,
    train_iters: int = 1,
    m: int = 8,
    ksub: int = 16,
    pq_iters: int = 3,
    pq_sample: int | None = None,
    numpy_encode: bool = False,
    residual: bool = False,
) -> tuple[list[list[float]], list]:
    """build_ivf_store plus the memory half: each vector also lands
    with its `pq_code` column (operators/pq.pq_encode — m small ints
    instead of D floats for the scan the probe's shortlist touches),
    and the PQ codebooks persist next to the centroids:

        <store>/cell=<id>/...parquet   vec_id, embedding, pq_code
        <store>/_centroids.json        coarse quantizer (k×dim)
        <store>/_pq.json               {m, ksub, codebooks[m][ksub][dsub]}

    The coarse layout stays COSINE (same training and assignment as
    build_ivf_store, bit-identical cells); PQ distance is L2 — the
    standard IVF-PQ metric bridge. ivfpq_probe therefore uses ADC only
    to SHORTLIST within the probed cells and ranks the final k by
    exact cosine, so its output contract (and, with a full-cell
    shortlist, its exact result — pytest-pinned) matches ivf_probe.

    Columnar economics, which is the point at 100 TB: the ADC pass
    reads (vec_id, pq_code) — the embedding column stays on disk —
    and only the Q·R shortlist rows reach the exact rerank, which
    reads embeddings from the same pruned cells. A vec_id filter on
    that read would skip nothing while a cell file is one row group
    (under the 128 MiB row-group size): a scattered id list cannot
    exclude it. Both scans' shapes are plan-asserted in
    tests/test_ivfpq.py.

    The two throughput dials for large corpora (both default OFF so
    small builds stay on the oracle-exact Catalyst paths, both
    pinned equivalent on the corpus): `pq_sample=N` trains the
    codebooks on a bounded deterministic sample (pq_train's posture
    note), `numpy_encode=True` writes codes through the Arrow/BLAS
    encoder (pq_encode_numpy) instead of the interpreted in-row
    argmin. Measured at 1M vectors: COVERAGE.md ivfpq1m."""
    from indexr_spark.operators.pq import pq_encode, pq_encode_numpy, pq_train

    prep = _prepared(vectors)
    centroids = _train_centroids(vectors, prep, n_cells, train_iters)
    assigned = prep.withColumn("cell", _assign_cell(centroids))
    encode = pq_encode_numpy if numpy_encode else pq_encode
    if residual:
        # classic IVF-PQ residual encoding (Jégou et al. §5): quantize
        # x − centroid[cell], not x. The codes then spend their entire
        # resolution on WITHIN-cell structure, which is exactly what a
        # shortlist ranks after cell pruning already removed the
        # between-cell variance — measured on the 1M jitter corpus:
        # R=64 recall@10 0.08 raw-PQ → see COVERAGE.md ivfpq1m for
        # the residual number. ADC tables must then be built per
        # (query, cell) — ivfpq_probe reads the flag from the meta.
        cmat = F.lit([[float(x) for x in c] for c in centroids])
        assigned = assigned.withColumn(
            "_res",
            F.zip_with(F.col("e"), F.get(cmat, F.col("cell")), lambda x, c: x - c),
        )
        codebooks, _hist = pq_train(
            assigned.select("vec_id", F.col("_res").alias("embedding")),
            m=m, ksub=ksub, iters=pq_iters, sample_limit=pq_sample,
        )
        final = encode(assigned, codebooks, embedding_col="_res").drop(
            "_res", "e", "nrm"
        )
    else:
        codebooks, _hist = pq_train(
            vectors, m=m, ksub=ksub, iters=pq_iters, sample_limit=pq_sample
        )
        final = encode(assigned.drop("e", "nrm"), codebooks)
    final.write.mode("overwrite").partitionBy("cell").parquet(store_dir)
    with open(os.path.join(store_dir, CENTROIDS_NAME), "w") as f:
        json.dump(centroids, f)
    with open(os.path.join(store_dir, PQ_META_NAME), "w") as f:
        json.dump(
            {"m": m, "ksub": ksub, "codebooks": codebooks, "residual": residual},
            f,
        )
    return centroids, codebooks


def ivfpq_probe(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    rerank_from: int = 32,
) -> DataFrame:
    """Top-k cosine neighbours per query over an IVF-PQ store: the
    ivf_probe cell pick and static `cell=` pruning, an ADC scan over
    codes only, then an exact-cosine rerank of each query's R-shortlist.
    Each (query, cell) probe row carries its ADC table, built in-row
    (from the query's residual against the cell centroid on residual
    stores, see build_ivfpq_store). The shortlist stays distributed
    and joins the pruned store on vec_id for the embeddings. Output
    schema and ranking contract are ivf_probe's (q_id, rank, vec_id,
    cosine; ties → lower vec_id); with rerank_from ≥ the probed cells'
    population the result is IDENTICAL to ivf_probe by construction.

    Sizing `rerank_from`: it must SPAN the corpus's near-dup family
    size (the measured law — ADC cannot rank within a family of
    identically-coded siblings); derive it from a d07/d32 pair frame
    with `suggest_rerank_from` below."""
    from pyspark.sql import Window as W

    from indexr_spark.operators.pq import adc_distance, adc_table

    if rerank_from < k:
        raise ValueError(f"rerank_from={rerank_from} < k={k}")
    centroids = _load(store_dir, CENTROIDS_NAME)
    meta = _load(store_dir, PQ_META_NAME)
    q = _query_side(queries)
    centre = None
    if meta.get("residual"):
        centre = F.get(_lit_array(centroids), F.col("cell"))
    probes = _probe_cells(q, centroids, nprobe).select(
        "q_id", "cell", adc_table(F.col("qe"), meta["codebooks"], centre).alias("t")
    )
    probes, store = _probed_store(spark, store_dir, probes, "cell")
    # ADC shortlist: codes only (the embedding column is not read here)
    wa = W.partitionBy("q_id").orderBy("adc", "vec_id")
    adc = adc_distance(F.col("pq_code"), F.col("t"), meta["ksub"])
    short = (
        store.select("vec_id", "cell", "pq_code")
        .join(F.broadcast(probes), ["cell"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= rerank_from)
        .select("q_id", "vec_id")
    )
    fat = _prepared(store.select("vec_id", "embedding"))
    pairs = (
        short.join(fat, ["vec_id"])
        .join(F.broadcast(q), ["q_id"])
        .select("q_id", "vec_id", _cosine().alias("cos"))
    )
    return _rank_topk(pairs, k)


def suggest_rerank_from(
    pairs: DataFrame,
    k: int = 3,
    quantile: float = 0.99,
    headroom: float = 1.25,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> int:
    """Size `rerank_from` (the ADC shortlist R) from a measured
    near-dup pair frame — the suggest_bands pattern applied to the
    IVF-PQ law COVERAGE.md measured at 1M vectors: ADC cannot rank
    WITHIN a near-dup family (jitter siblings quantize to identical
    codes), so the shortlist must SPAN the largest family the corpus
    actually has or the exact rerank never sees the true neighbours
    (R=64 → recall 0.08 vs R=1024 → 1.00 on a 500-sibling corpus).
    d07/d32 output is exactly the family-size distribution a
    deployment already has in hand — this closes that loop.

    `pairs` is any (a_id, b_id) near-dup pair frame (d07's MinHash-LSH
    pairs, d32's Hamming pairs, d10's embedding pairs via its id
    columns). Family size per member is estimated as pair-degree + 1 —
    exact for the clique a true near-dup family forms under a
    complete detector, an underestimate only when the detector itself
    missed intra-family pairs (one more reason for `headroom`). The
    suggestion is max(k, ceil(quantile(degree+1) * headroom)): spanning
    the `quantile` family exactly is the floor, `headroom` buys the
    detector-miss and quantile-tail margin.

    One shuffle on member id + a percentile_approx scalar — runs at
    any corpus size; an empty pair frame (no measured families) means
    nothing constrains R beyond k."""
    if not 0.0 < quantile <= 1.0:
        raise ValueError(f"quantile must be in (0,1], got {quantile}")
    if headroom < 1.0:
        raise ValueError(f"headroom must be >= 1, got {headroom}")
    deg = (
        pairs.select(F.col(a_col).alias("id"))
        .unionAll(pairs.select(F.col(b_col).alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    row = deg.agg(
        F.percentile_approx(F.col("deg") + 1, F.lit(quantile), F.lit(10_000)).alias("q")
    ).collect()[0]
    if row["q"] is None:
        return k
    return max(k, math.ceil(float(row["q"]) * headroom))
