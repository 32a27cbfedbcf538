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

Probe: centroids load driver-side (k×dim floats), each query picks its
`nprobe` nearest cells in Python, and the scan statically prunes to
those `cell=` partitions before exact cosine ranks candidates —
`nprobe` is the recall/cost dial s06 (nprobe=1) doesn't expose.

build_ivfpq_store / ivfpq_probe add the memory half of the layout
(IVF-PQ): a `pq_code` column (operators/pq.py) lets the candidate
scan rank by ADC without ever decoding the embedding column, and the
exact-cosine rerank touches embeddings for only the per-query
shortlist — see build_ivfpq_store's docstring for the economics.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indexr_spark.operators.similarity import (
    _argmax_cell,
    _dot,
    _dots_2d,
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


def ivf_probe(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k cosine neighbours per query over the `nprobe` nearest
    cells. The probed cell set resolves driver-side (queries are
    broadcast-sized; centroids are a tiny constant), so the scan
    carries a static partition filter over exactly those cells."""
    from pyspark.sql import Window as W

    with open(os.path.join(store_dir, CENTROIDS_NAME)) as f:
        centroids = json.load(f)
    cnorms = [math.sqrt(sum(x * x for x in cv)) or 1.0 for cv in centroids]
    qrows = queries.select("q_id", F.col("embedding").cast("array<double>").alias("qe")).collect()
    probe_rows = []
    for r in qrows:
        qe = list(r["qe"])
        qn = math.sqrt(sum(x * x for x in qe)) or 1.0
        scored = sorted(
            (
                (sum(a * b for a, b in zip(qe, cv)) / (qn * cn), cell)
                for cell, (cv, cn) in enumerate(zip(centroids, cnorms))
            ),
            key=lambda t: (-t[0], t[1]),
        )
        for _, cell in scored[:nprobe]:
            probe_rows.append((r["q_id"], qe, qn, cell))
    qdf = F.broadcast(
        spark.createDataFrame(
            probe_rows, "q_id long, qe array<double>, qn double, cell int"
        )
    )
    cells = sorted({c for *_, c in probe_rows})
    store = _prepared(spark.read.parquet(store_dir).filter(F.col("cell").isin(cells)))
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    pairs = store.join(qdf, ["cell"]).filter(F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", cos.alias("cos")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


def ivf_probe_df(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k cosine neighbours per query — the LARGE-batch probe path.

    `ivf_probe` collects the query rows driver-side to compute a
    static partition filter; fine for interactive probe sets, wrong
    for a 10k+ query batch (the driver becomes the bottleneck and the
    collect defeats distribution). Here nothing is collected: the
    centroids (a tiny constant) are inlined as literal arrays, each
    query row picks its `nprobe` nearest cells IN-ROW (score every
    centroid, sort, slice), and explodes to (query, cell) rows for the
    broadcast join against the cell-partitioned store. A large batch
    probes essentially every cell (the probed set is data-dependent,
    so no static partition filter is possible without collecting the
    queries — exactly the trade between the two paths), which makes
    the full-store scan the correct plan here; for small interactive
    sets use `ivf_probe`, whose collect buys static `cell=` pruning.
    Same ranking contract as `ivf_probe` (ties → lower cell id /
    vec_id; zero-norm queries take the same norm-1 fallback).
    """
    from pyspark.sql import Window as W

    with open(os.path.join(store_dir, CENTROIDS_NAME)) as f:
        centroids = json.load(f)
    qn_raw = F.sqrt(_dot(F.col("qe"), F.col("qe")))
    q = queries.select(
        "q_id", F.col("embedding").cast("array<double>").alias("qe")
    ).withColumn(
        # `qn or 1.0` in ivf_probe's driver loop — same zero-vector
        # fallback, in-row (nullif(0)→null, coalesce→1.0)
        "qn",
        F.coalesce(F.nullif(qn_raw, F.lit(0.0)), F.lit(1.0)),
    )
    # in-row nprobe-cell selection: array_sort on (dot, -cell) structs
    # sorts ascending on both, so reversing yields score desc with ties
    # broken toward the LOWER cell id — the exact driver-side key. The
    # centroids fold through the shared _dots_2d 2-D-literal lambda
    # (the constant-size expression shape; the per-centroid struct fan
    # it replaces was the r3 s06 regression), 1/|c|-scaled driver-side;
    # dividing by qn is per-row constant, so dropping it cannot reorder
    # a query's cells.
    dots = _dots_2d(F.col("qe"), _unit_scaled(centroids))
    neg = F.lit([-c for c in range(len(centroids))])
    cands = F.zip_with(
        dots, neg, lambda d, nc: F.struct(d.alias("c"), nc.alias("nc"))
    )
    top = F.slice(F.reverse(F.array_sort(cands)), 1, nprobe)
    q = q.withColumn(
        "cell", F.explode(F.transform(top, lambda s: (-s["nc"]).cast("int")))
    )
    store = _prepared(spark.read.parquet(store_dir))
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    # No broadcast hint: AQE broadcasts the query side while it fits
    # (a 10k batch is a few MB) and falls back to a shuffle hash join
    # on cell when a truly huge batch would OOM the driver — a forced
    # broadcast would reintroduce the driver bottleneck this path
    # exists to avoid.
    pairs = (
        store.join(q, ["cell"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


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
    and the rerank reads embeddings for only the Q·R shortlist rows
    through a pushed vec_id filter. Both properties are plan-asserted
    in tests/test_ivfpq.py.

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
    """Top-k cosine neighbours per query over an IVF-PQ store: static
    `cell=` pruning (ivf_probe's driver-side cell pick, cosine), an
    ADC scan over codes only, then exact-cosine rerank of the per-query
    R-shortlist — embeddings are read through a pushed vec_id IN
    filter over the same pruned cells, i.e. Q·R fat rows instead of
    every row in every probed cell. Output schema and ranking contract
    are ivf_probe's (q_id, rank, vec_id, cosine; ties → lower vec_id);
    with rerank_from ≥ the probed cells' population the result is
    IDENTICAL to ivf_probe by construction (residual or not — the
    final ranking is exact). Residual stores (see build_ivfpq_store)
    get per-(query, cell) ADC tables, read from the store meta.

    Sizing `rerank_from`: it must SPAN the corpus's near-dup family
    size (the measured law — ADC cannot rank within a family of
    identically-coded siblings); derive it from a d07/d32 pair frame
    with `suggest_rerank_from` below."""
    from pyspark.sql import Window as W

    from indexr_spark.operators.pq import adc_tables

    if rerank_from < k:
        raise ValueError(f"rerank_from={rerank_from} < k={k}")
    with open(os.path.join(store_dir, CENTROIDS_NAME)) as f:
        centroids = json.load(f)
    with open(os.path.join(store_dir, PQ_META_NAME)) as f:
        meta = json.load(f)
    codebooks, ksub, m = meta["codebooks"], meta["ksub"], meta["m"]
    cnorms = [math.sqrt(sum(x * x for x in cv)) or 1.0 for cv in centroids]
    qrows = queries.select(
        "q_id", F.col("embedding").cast("array<double>").alias("qe")
    ).collect()
    # per query: nprobe nearest cells by cosine (ivf_probe's key) and
    # the flat ADC table against the store's codebooks
    probe_rows = []
    qvecs: dict[int, list[float]] = {}
    for r in qrows:
        qe = list(r["qe"])
        qvecs[r["q_id"]] = qe
        qn = math.sqrt(sum(x * x for x in qe)) or 1.0
        scored = sorted(
            (
                (sum(a * b for a, b in zip(qe, cv)) / (qn * cn), cell)
                for cell, (cv, cn) in enumerate(zip(centroids, cnorms))
            ),
            key=lambda t: (-t[0], t[1]),
        )
        for _, cell in scored[:nprobe]:
            probe_rows.append((r["q_id"], cell))
    cells = sorted({c for _, c in probe_rows})

    # phase 1 — ADC shortlist: codes only (embedding never read here)
    qdf = F.broadcast(
        spark.createDataFrame(probe_rows, "q_id long, cell int")
    )
    codes = spark.read.parquet(store_dir).filter(F.col("cell").isin(cells)).select(
        "vec_id", "cell", "pq_code"
    )
    def _table_expr(table_vals: list[float]) -> "F.Column":
        table = F.lit(table_vals)
        return F.aggregate(
            F.zip_with(
                F.col("pq_code"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda code, j: F.get(table, j * ksub + code),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    adc = None
    if meta.get("residual"):
        # residual store: codes quantize x − centroid[cell], so the
        # ADC table is per (query, cell) — Q·nprobe literal tables,
        # still driver-sized by the probe contract
        for qid, cell in probe_rows:
            qe = qvecs[qid]
            q_res = [a - b for a, b in zip(qe, centroids[cell])]
            expr = _table_expr(adc_tables(q_res, codebooks))
            cond = (F.col("q_id") == int(qid)) & (F.col("cell") == int(cell))
            adc = F.when(cond, expr) if adc is None else adc.when(cond, expr)
    else:
        for qid, qe in qvecs.items():
            expr = _table_expr(adc_tables(qe, codebooks))
            adc = (
                F.when(F.col("q_id") == int(qid), expr)
                if adc is None
                else adc.when(F.col("q_id") == int(qid), expr)
            )
    wa = W.partitionBy("q_id").orderBy("adc", "vec_id")
    short = (
        codes.join(qdf, ["cell"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= rerank_from)
        .select("q_id", "vec_id")
        .collect()  # Q·rerank_from ids — driver-sized by contract
    )

    # phase 2 — exact cosine on the shortlist only: the vec_id IN
    # filter pushes to the pruned scan, so the embedding column is
    # decoded for Q·R rows
    ids = sorted({r["vec_id"] for r in short})
    pairs_df = F.broadcast(
        spark.createDataFrame(
            [(r["q_id"], r["vec_id"]) for r in short], "q_id long, vec_id long"
        )
    )
    fat = _prepared(
        spark.read.parquet(store_dir)
        .filter(F.col("cell").isin(cells))
        .filter(F.col("vec_id").isin(ids))
        .select("vec_id", "embedding")
    )
    cos = None
    for qid, qe in qvecs.items():
        qn = math.sqrt(sum(x * x for x in qe)) or 1.0
        expr = _dot(F.col("e"), F.lit([float(x) for x in qe])) / (
            F.col("nrm") * qn
        )
        cos = (
            F.when(F.col("q_id") == int(qid), expr)
            if cos is None
            else cos.when(F.col("q_id") == int(qid), expr)
        )
    wx = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        fat.join(pairs_df, ["vec_id"])
        .select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


def ivfpq_probe_df(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    rerank_from: int = 32,
) -> DataFrame:
    """ivfpq_probe's LARGE-batch sibling (the ivf_probe_df trade):
    nothing is collected — each query row picks its nprobe cells
    IN-ROW, the ADC distance is computed per joined (query, candidate)
    row from code-indexed centroid lookups (per subspace: one F.get
    into a 2-D codebook literal + one dot fold, so a candidate costs
    ~one cosine regardless of ksub), and the exact-cosine rerank joins
    the R-shortlist back to the store on vec_id. What the driver-side
    collect bought in ivfpq_probe is gone by construction: no static
    cell pruning (a large batch probes most cells anyway) and no
    pushed vec_id filter for the rerank scan (the shortlist is
    distributed — the rerank is a shuffle join instead). Residual
    stores work unchanged: the query residualizes in-row against the
    candidate's cell centroid. Output contract is ivfpq_probe's; a
    full-population shortlist reproduces ivf_probe_df exactly
    (pytest-pinned)."""
    from pyspark.sql import Window as W

    if rerank_from < k:
        raise ValueError(f"rerank_from={rerank_from} < k={k}")
    with open(os.path.join(store_dir, CENTROIDS_NAME)) as f:
        centroids = json.load(f)
    with open(os.path.join(store_dir, PQ_META_NAME)) as f:
        meta = json.load(f)
    codebooks, ksub, m = meta["codebooks"], meta["ksub"], meta["m"]
    dsub = len(codebooks[0][0])

    qn_raw = F.sqrt(_dot(F.col("qe"), F.col("qe")))
    q = queries.select(
        "q_id", F.col("embedding").cast("array<double>").alias("qe")
    ).withColumn("qn", F.coalesce(F.nullif(qn_raw, F.lit(0.0)), F.lit(1.0)))
    # in-row nprobe cell selection — identical mechanics to ivf_probe_df
    dots = _dots_2d(F.col("qe"), _unit_scaled(centroids))
    neg = F.lit([-c for c in range(len(centroids))])
    cands = F.zip_with(
        dots, neg, lambda d, nc: F.struct(d.alias("c"), nc.alias("nc"))
    )
    top = F.slice(F.reverse(F.array_sort(cands)), 1, nprobe)
    q = q.withColumn(
        "cell", F.explode(F.transform(top, lambda s: (-s["nc"]).cast("int")))
    )

    codes = spark.read.parquet(store_dir).select("vec_id", "cell", "pq_code")
    joined = codes.join(q, ["cell"]).filter(F.col("vec_id") != F.col("q_id"))
    qe_eff = F.col("qe")
    if meta.get("residual"):
        cmat = F.lit([[float(x) for x in c] for c in centroids])
        qe_eff = F.zip_with(
            F.col("qe"), F.get(cmat, F.col("cell")), lambda x, c: x - c
        )
    # materialize the (possibly residualized) query vector as a column
    # before the per-subspace folds consume it — the d22/d31 no-CSE
    # lesson: raw, the residual zip_with would re-run once per subspace
    joined = joined.withColumn("_qe_eff", qe_eff)
    adc = None
    for j in range(m):
        cb_j = F.lit([[float(x) for x in c] for c in codebooks[j]])
        n2_j = F.lit([float(sum(x * x for x in c)) for c in codebooks[j]])
        code_j = F.get(F.col("pq_code"), j)
        qj = F.slice(F.col("_qe_eff"), j * dsub + 1, dsub)
        cj = F.get(cb_j, code_j)
        dj = _dot(qj, qj) - 2.0 * _dot(qj, cj) + F.get(n2_j, code_j)
        adc = dj if adc is None else adc + dj
    wa = W.partitionBy("q_id").orderBy("adc", "vec_id")
    shortlist = (
        joined.select("q_id", "vec_id", "qe", "qn", adc.alias("adc"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= rerank_from)
        .drop("arank")
    )
    fat = _prepared(
        spark.read.parquet(store_dir).select("vec_id", "embedding")
    ).select("vec_id", "e", "nrm")
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    wx = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        shortlist.join(fat, ["vec_id"])
        .select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


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


# ---------------------------------------------------------------------------
# s14 draft (register when the window allows — REGISTRY.md): the FULL
# IVF-PQ probe path — coarse cosine assign, residual PQ encode, ADC
# shortlist, exact-cosine rerank — with every model artifact (coarse
# centroids, PQ codebooks, query vectors, probed-cell choices, ADC
# tables) FIXED by deterministic formulas and inlined identically into
# both engines, the s13/d35 protocol one level up. What the row
# certifies is the probe's MATH end-to-end: the same vector must land
# in the same cell, quantize to the same code, score the same ADC
# distance, survive the same R-boundary, and rank the same under exact
# rerank in Spark and DuckDB. Training quality and the two-phase
# columnar economics of the persisted store stay pinned where they
# already are (tests/test_pq.py, tests/test_ivfpq.py) — a fixed model
# decouples this row from both, exactly as d35 decoupled encode from
# d34's training.
#
# Cross-engine arithmetic surface, kept deliberately tiny: the ADC
# tables are computed ONCE driver-side in Python (adc_tables over
# exact quarter-valued query residuals) and enter both plans as
# literals, so a candidate's ADC distance is m=4 table lookups summed
# left-to-right in both engines — bit-identical by construction. The
# only engine-side floating point is the three dot products s13/s01
# already certify (assignment dot, residual-subspace dot, rerank dot);
# the first two are BLAS sums on the Spark side, the rerank dot is a
# left-to-right fold in both engines.

S14_NLIST, S14_NPROBE, S14_R, S14_K, S14_NQ = 4, 2, 40, 5, 3


def s14_centroids() -> list[list[float]]:
    """Raw coarse centroids[S14_NLIST][S13_DIM] from a deterministic
    integer formula — quarter-valued, exactly representable, so the
    residual subtraction v − c is EXACT floating point."""
    from indexr_spark.operators.pq import S13_DIM

    return [
        [((((c + 2) * (d + 7)) % 13) - 6) / 4.0 for d in range(S13_DIM)]
        for c in range(S14_NLIST)
    ]


def s14_queries() -> list[list[float]]:
    """Query vectors[S14_NQ][S13_DIM], quarter-valued by formula —
    corpus-independent, so the probe choice and ADC tables derived
    from them are pure literals on both sides."""
    from indexr_spark.operators.pq import S13_DIM

    return [
        [((((q + 5) * (d + 11)) % 17) - 8) / 4.0 for d in range(S13_DIM)]
        for q in range(S14_NQ)
    ]


def _s14_probe_rows() -> list[tuple]:
    """Driver-side probe model, the single source of truth both engines
    inline: one row per (q_id, probed cell) carrying the flat ADC
    table over the query's EXACT residual against that cell, the query
    vector, and its norm. Cell choice is cosine, ties → lower cell —
    the _argmax_cell contract."""
    from indexr_spark.operators.pq import adc_tables, s13_codebooks

    cents = s14_centroids()
    cbs = s13_codebooks()
    cnorms = [math.sqrt(sum(x * x for x in c)) for c in cents]
    rows = []
    for qid, qv in enumerate(s14_queries()):
        qn = math.sqrt(sum(x * x for x in qv))
        scored = sorted(
            (
                (-sum(a * b for a, b in zip(qv, cv)) / (qn * cn), cell)
                for cell, (cv, cn) in enumerate(zip(cents, cnorms))
            )
        )
        for _, cell in scored[:S14_NPROBE]:
            qres = [a - b for a, b in zip(qv, cents[cell])]
            rows.append((qid, cell, adc_tables(qres, cbs), qv, qn))
    return rows


def _s14_coded_arrow(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """The s14 corpus side — norm, coarse cosine assign, residual
    subtraction, PQ encode — in ONE Arrow mapInPandas pass (E·Cᵀ for
    the assign, per-subspace matmul argmax for the codes). Centroids
    are unit-scaled driver-side (_unit_scaled), np.argmax's first-max
    breaks ties toward the smaller cell, residuals are taken against
    the RAW quarter-valued centroids (exact float subtract), and codes
    are argmax(2·dot − |c|²) with ties → lower code (pq_encode's
    contract). BLAS sums dots in a different order than a
    left-to-right fold, so only a value within an ulp of a rank
    boundary could differ from the DuckDB oracle's."""
    from indexr_spark.operators.pq import s13_codebooks
    from indexr_spark.operators.similarity import _unit_scaled

    books = [[list(map(float, c)) for c in cb] for cb in s13_codebooks()]
    craw = [[float(x) for x in c] for c in cents]
    cu = _unit_scaled(cents)

    def batches(it):
        # self-contained: executors don't import this package
        import numpy as np
        import pandas as pd

        Cu = np.asarray(cu, dtype=np.float64)
        Craw = np.asarray(craw, dtype=np.float64)
        cbs = [np.asarray(cb, dtype=np.float64) for cb in books]
        n2s = [(cb * cb).sum(axis=1) for cb in cbs]
        m, dsub = len(cbs), cbs[0].shape[1]
        for pdf in it:
            if not len(pdf):
                continue
            E = np.vstack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            nrm = np.sqrt(np.einsum("ij,ij->i", E, E))
            cell = (E @ Cu.T).argmax(axis=1)
            R = E - Craw[cell]
            codes = np.empty((len(E), m), dtype=np.int64)
            for j in range(m):
                sub = R[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = np.argmax(2.0 * (sub @ cbs[j].T) - n2s[j], axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "e": list(E), "nrm": nrm,
                 "cell": cell.astype("int32"),
                 "pq_code": [list(map(int, c)) for c in codes]}
            )

    prep = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    ).select("vec_id", "embedding")
    return prep.mapInPandas(
        batches,
        "vec_id long, e array<double>, nrm double, cell int, pq_code array<int>",
    )


def s14_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s14 registry form: fixed-model IVF-PQ probe over the
    embeddings table — (q_id, rank, vec_id, cell, adc, cosine).

    Plan shape is the production posture for a query BATCH: the probe
    model is a broadcast table (q_id, cell, adc table, query vector),
    so the candidate stream stays fully data-driven — cell assign +
    residual PQ encode on the corpus side in one Arrow pass
    (_s14_coded_arrow), one broadcast join on cell, m in-row table
    lookups per candidate, and the only wide operations are the two
    per-query ranking windows (ADC shortlist at R, exact rerank at k).
    No when-chains: a thousand queries would run the identical plan."""
    from indexr_spark.operators.pq import s13_codebooks
    from indexr_spark.tables import load_table

    cents = s14_centroids()
    m = len(s13_codebooks())
    ksub = len(s13_codebooks()[0])
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    coded = _s14_coded_arrow(emb, cents)

    probe = F.broadcast(
        spark.createDataFrame(
            _s14_probe_rows(),
            "q_id long, cell int, t array<double>, qe array<double>, qn double",
        )
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, j: F.get(F.col("t"), j * ksub + code),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    wa = W.partitionBy("q_id").orderBy("adc", "vec_id")
    short = (
        coded.join(probe, ["cell"])
        .select("q_id", "vec_id", "cell", "e", "nrm", "qe", "qn", adc.alias("adc"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= S14_R)
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    wx = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        short.select("q_id", "vec_id", "cell", "adc", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= S14_K)
        .select(
            "q_id",
            "rank",
            "vec_id",
            "cell",
            F.round("adc", 6).alias("adc"),
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("q_id", "rank")
    )


def _s14_oracle_sql() -> str:
    """DuckDB replay generated from the SAME Python model values —
    centroid/codebook/table literals repr-round-trip, so the two
    engines hold identical doubles. The ADC sum is written
    t0+t1+t2+t3 (left-to-right) to match the Spark fold exactly."""
    from indexr_spark.operators.pq import S13_DIM, S13_M, s13_codebooks

    cents = s14_centroids()
    units = _unit_scaled(cents)
    dsub = S13_DIM // S13_M
    cent_vals = ", ".join(
        f"({c}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[], "
        f"[{', '.join(repr(x) for x in uv)}]::DOUBLE[])"
        for c, (cv, uv) in enumerate(zip(cents, units))
    )
    cb_vals = ", ".join(
        f"({j}, {code}, [{', '.join(repr(x) for x in cb)}]::DOUBLE[], "
        f"{sum(x * x for x in cb)!r})"
        for j, book in enumerate(s13_codebooks())
        for code, cb in enumerate(book)
    )
    probe_rows = _s14_probe_rows()
    qv_vals = ", ".join(
        f"({qid}, [{', '.join(repr(x) for x in qv)}]::DOUBLE[], {qn!r})"
        for qid, qv, qn in sorted(
            {(q, tuple(qe), qn) for q, _, _, qe, qn in probe_rows}
        )
    )
    adct_vals = ", ".join(
        f"({qid}, {cell}, {j}, {code}, {t[j * len(s13_codebooks()[0]) + code]!r})"
        for qid, cell, t, _, _ in probe_rows
        for j in range(S13_M)
        for code in range(len(s13_codebooks()[0]))
    )
    tjoins = " ".join(
        f"JOIN adct t{j} ON t{j}.q_id = p.q_id AND t{j}.cell = c.cell "
        f"AND t{j}.j = {j} AND t{j}.code = c.pq[{j + 1}]"
        for j in range(S13_M)
    )
    adc_sum = " + ".join(f"t{j}.v" for j in range(S13_M))
    return f"""
WITH cent(cell, c, un) AS (VALUES {cent_vals}),
cb(j, code, c, n2) AS (VALUES {cb_vals}),
qv(q_id, qe, qn) AS (VALUES {qv_vals}),
probes(q_id, cell) AS (
  VALUES {", ".join(f"({q}, {cell})" for q, cell, *_ in probe_rows)}
),
adct(q_id, cell, j, code, v) AS (VALUES {adct_vals}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
asg AS (
  SELECT vec_id, e, cell FROM (
    SELECT vec_id, e, cent.cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(e, cent.un) DESC,
                                       cent.cell) AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1
),
res AS (
  SELECT vec_id, cell,
         list_transform(generate_series(1, {S13_DIM}), i -> e[i] - cent.c[i]) AS r
  FROM asg JOIN cent USING (cell)
),
sub AS (
  SELECT vec_id, cell, j, r[j*{dsub}+1 : (j+1)*{dsub}] AS s
  FROM res CROSS JOIN (SELECT unnest(range({S13_M})) AS j)
),
best AS (
  SELECT vec_id, cell, sub.j, cb.code,
         row_number() OVER (PARTITION BY vec_id, sub.j
                            ORDER BY 2*list_dot_product(s, cb.c) - cb.n2 DESC,
                                     cb.code) AS rn
  FROM sub JOIN cb ON cb.j = sub.j
),
coded AS (
  SELECT vec_id, cell, list(code ORDER BY j) AS pq
  FROM best WHERE rn = 1 GROUP BY vec_id, cell
),
short AS (
  SELECT q_id, vec_id, cell, adc FROM (
    SELECT p.q_id, c.vec_id, c.cell, {adc_sum} AS adc,
           row_number() OVER (PARTITION BY p.q_id
                              ORDER BY {adc_sum}, c.vec_id) AS arank
    FROM coded c JOIN probes p ON p.cell = c.cell {tjoins})
  WHERE arank <= {S14_R}
),
rer AS (
  SELECT s.q_id, s.vec_id, s.cell, s.adc,
         list_dot_product(e.e, q.qe)
           / (sqrt(list_dot_product(e.e, e.e)) * q.qn) AS cos
  FROM short s JOIN e ON e.vec_id = s.vec_id JOIN qv q ON q.q_id = s.q_id
)
SELECT q_id,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, vec_id) AS INTEGER) AS rank,
       vec_id, CAST(cell AS INTEGER) AS cell,
       round(adc, 6) AS adc, round(cos, 6) AS cosine
FROM rer
QUALIFY rank <= {S14_K}
ORDER BY q_id, rank
"""


S14_ORACLE_DRAFT = _s14_oracle_sql()
