"""Product quantization — the memory side of the 100 TB ANN story.

IVF (sources/vector_store.py) bounds how much of the corpus a query
SCANS; PQ bounds how many bytes per vector the scan TOUCHES: each
vector is split into `m` subspaces and every subspace is quantized to
one of `ksub` codebook centroids, so a D-dim float vector becomes m
small ints (64-dim float32 at m=8 → 8 bytes, 32×). Search never
reconstructs vectors: asymmetric distance computation (ADC) turns one
query into an (m × ksub) table of subspace distances, and a
candidate's approximate distance is m table lookups indexed by its
code — exactly the IVF-PQ layout every billion-vector deployment runs
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — public method, implemented from the paper).

Spark shapes, in the house style:

- Codebooks are MODELS (m·ksub·(D/m) floats — ~4 KB at the defaults):
  they live driver-side and enter plans as 2-D literals consumed by
  ONE transform lambda (`_dots_2d`, the s06 lesson), never as joins.
- `pq_encode` is fully in-row: zero shuffles, scan-parallel at any
  corpus size; at 100 TB it is a projection in the ingest write.
- `pq_train` runs ALL m subspaces in one aggregation per Lloyd
  round: explode each row to its m (subspace, code, subvector)
  assignments, one (j, code, dim) groupBy computes every subspace
  mean simultaneously. Per round: one corpus-wide shuffle of
  (m·D/m)=D narrow values per row + one driver-sized collect
  (m·ksub·dsub rows). The quantization-error audit is a second,
  separate in-row aggregate so the mean shuffle stays narrow.
- ADC is one pair of helpers every probe shares: `adc_table` builds
  a query's (m·ksub) table in-row on its probe row, and
  `adc_distance` scores a candidate with m lookups off its code.
  `pq_adc_topk` broadcast-joins its query frame against the coded
  corpus; the IVF-PQ probe (sources/vector_store.ivfpq_probe) joins
  per-(query, cell) probe rows on the cell.

L2 argmin over a codebook literal reuses the cosine machinery's
identity: argmin_c |s-c|^2 = argmax_c (2 s·c - |c|^2), so the shared
`_dots_2d` dot-product lambda plus a per-codebook |c|^2 literal is
the whole assignment expression; ties break toward the LOWER code
(same contract as similarity._argmax_cell, and what the numpy reference in
tests/test_pq.py pins).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from indexr_spark.operators.similarity import (
    _dot,
    _dots_2d,
    _lit_array,
    _unit_scaled,
)

Codebooks = "list[list[list[float]]]"  # [m][ksub][dsub]


def _sub(e: Column, j: int, dsub: int) -> Column:
    """Subvector j of a row vector (F.slice is 1-based)."""
    return F.slice(e, j * dsub + 1, dsub)


def _argmin_struct(sub: Column, codebook: list[list[float]]) -> Column:
    """struct(sc, nc) where -nc is the L2-argmin code of `sub` against
    `codebook` (ties → lower code) and sc = 2·dot − |c|² for the
    winner, so |sub−c|² = |sub|² − sc without a second pass."""
    dots = _dots_2d(sub, codebook)
    n2 = F.lit([float(sum(x * x for x in c)) for c in codebook])
    neg = F.lit([-i for i in range(len(codebook))])
    scored = F.zip_with(dots, n2, lambda d, n: 2.0 * d - n)
    return F.array_max(
        F.zip_with(scored, neg, lambda s, nl: F.struct(s.alias("sc"), nl.alias("nc")))
    )


def _dim_of(vectors: DataFrame, col: str) -> int:
    row = vectors.select(F.size(F.col(col)).alias("d")).first()
    if row is None:
        raise ValueError("cannot quantize an empty corpus")
    return int(row["d"])


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    embedding_col: str = "embedding",
    sample_limit: int | None = None,
) -> tuple[list, list[float]]:
    """Train m per-subspace codebooks of ksub centroids each (Lloyd,
    L2). Returns (codebooks[m][ksub][dsub], per-round mean
    quantization error — non-increasing, pinned by tests/test_pq.py).

    Seeding is deterministic (the ksub lowest vec_ids donate their
    subvectors, the build_ivf_store convention), so retraining on the
    same corpus yields bit-identical codebooks — the property that
    lets a persisted code column be extended by later ingest batches
    without re-encoding the corpus. Empty cells keep their previous
    centroid (never collapse to NaN).

    `sample_limit=N` is the production posture (what faiss does):
    collect a deterministic N-vector sample (the N smallest
    md5(vec_id) — portable, order-independent) and run the Lloyd loop
    DRIVER-SIDE in numpy. Codebooks are models; a 64k×64-dim sample
    is 32 MB, quality saturates at ~1k training points per centroid,
    and driver training makes per-round cost constant AND tiny
    (measured at 1M source vectors, m=16/ksub=16: 3 numpy rounds
    ≈ 3 s total vs ≈ 150 s per DISTRIBUTED round over the full
    corpus — COVERAGE.md ivfpq1m), leaving the one in-row encode pass
    as the only thing that ever touches every row. The distributed
    path (sample_limit=None) remains for exact full-corpus training;
    the two paths share formula and tie-break and agree to float
    tolerance (pytest-pinned)."""
    if m < 1 or ksub < 1 or iters < 1:
        raise ValueError(f"degenerate PQ config m={m} ksub={ksub} iters={iters}")
    prep = vectors.select(
        "vec_id", F.col(embedding_col).cast("array<double>").alias("e")
    )
    if sample_limit is not None:
        if sample_limit < ksub:
            raise ValueError(f"sample_limit={sample_limit} < ksub={ksub}")
        rows = (
            prep.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(sample_limit)
            .collect()  # driver-sized by the caller's contract
        )
        if len(rows) < ksub:
            raise ValueError(f"corpus has {len(rows)} vectors < ksub={ksub}")
        return _pq_train_numpy_rows(rows, m, ksub, iters)
    # full-corpus distributed path: a small-by-bytes corpus scans as a
    # handful of tasks while training cost is per-ROW (the argmin
    # fold); widen like tables.spread_scan does for the text operators
    par = vectors.sparkSession.sparkContext.defaultParallelism
    if prep.rdd.getNumPartitions() < max(2, par // 4):
        prep = prep.repartition(par)
    dim = _dim_of(prep, "e")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    seed_rows = prep.orderBy("vec_id").limit(ksub).select("e").collect()
    if len(seed_rows) < ksub:
        raise ValueError(f"corpus has {len(seed_rows)} vectors < ksub={ksub}")
    codebooks = [
        [[float(x) for x in r["e"][j * dsub : (j + 1) * dsub]] for r in seed_rows]
        for j in range(m)
    ]

    history: list[float] = []
    for _ in range(iters):
        assign = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (-_argmin_struct(_sub(F.col("e"), j, dsub), codebooks[j])["nc"])
                    .cast("int")
                    .alias("code"),
                    _sub(F.col("e"), j, dsub).alias("s"),
                )
                for j in range(m)
            ]
        )
        # audit pass: mean quantization error under the CURRENT
        # codebooks — in-row (|s|² − sc summed over subspaces), one
        # scalar to the driver, deliberately separate from the mean
        # shuffle below so that shuffle stays (j, code, dim)-narrow
        err_expr = sum(
            (
                _dot(_sub(F.col("e"), j, dsub), _sub(F.col("e"), j, dsub))
                - _argmin_struct(_sub(F.col("e"), j, dsub), codebooks[j])["sc"]
            )
            for j in range(m)
        )
        history.append(
            float(prep.select(F.avg(err_expr).alias("v")).first()["v"])
        )
        means = (
            prep.select(F.explode(assign).alias("x"))
            .select("x.j", "x.code", F.posexplode("x.s").alias("dim", "v"))
            .groupBy("j", "code", "dim")
            .agg(F.avg("v").alias("mu"))
            .collect()  # driver-sized by construction: m·ksub·dsub rows
        )
        new = [[list(c) for c in cb] for cb in codebooks]  # empty cells persist
        for r in means:
            new[r["j"]][r["code"]][r["dim"]] = float(r["mu"])
        codebooks = new
    return codebooks, history


def _pq_train_numpy_rows(rows, m: int, ksub: int, iters: int):
    """Driver-side Lloyd over collected sample rows — pq_train's
    sample_limit path. Same formula (argmax 2·dot − |c|²), same
    tie-break (np.argmax first-occurrence = lower code), same seeding
    convention (ksub lowest vec_ids IN THE SAMPLE donate subvectors),
    same empty-cell persistence as the distributed path."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r["vec_id"])
    X = np.array([list(r["e"]) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    codebooks = [
        [[float(x) for x in X[i, j * dsub : (j + 1) * dsub]] for i in range(ksub)]
        for j in range(m)
    ]
    history: list[float] = []
    for _ in range(iters):
        err_total = 0.0
        new = []
        for j in range(m):
            cb = np.asarray(codebooks[j], dtype=np.float64)
            sub = X[:, j * dsub : (j + 1) * dsub]
            score = 2.0 * (sub @ cb.T) - (cb * cb).sum(axis=1)
            code = np.argmax(score, axis=1)
            err_total += float(
                ((sub * sub).sum(axis=1) - score[np.arange(len(X)), code]).sum()
            )
            nb = []
            for c in range(ksub):
                mask = code == c
                nb.append(
                    [float(v) for v in sub[mask].mean(axis=0)]
                    if mask.any()
                    else list(codebooks[j][c])
                )
            new.append(nb)
        history.append(err_total / len(X))
        codebooks = new
    return codebooks, history


def pq_encode(
    vectors: DataFrame, codebooks: list, embedding_col: str = "embedding"
) -> DataFrame:
    """Add `pq_code` (array<int>, length m) — fully in-row, zero
    shuffles; every other input column passes through."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    e = F.col(embedding_col).cast("array<double>")
    codes = F.array(
        *[
            (-_argmin_struct(_sub(e, j, dsub), codebooks[j])["nc"]).cast("int")
            for j in range(m)
        ]
    )
    return vectors.withColumn("pq_code", codes)


def pq_encode_numpy(
    vectors: DataFrame, codebooks: list, embedding_col: str = "embedding"
) -> DataFrame:
    """pq_encode's BLAS path (the neardup_pairs_numpy precedent): one
    Arrow mapInPandas pass scoring every subspace as a matrix product.
    Measured head-to-head at 1M×64-dim, m=16 (COVERAGE.md ivfpq1m):
    at ksub=16 the Catalyst expression WINS (2.6 s vs 5.6 s — the
    in-row argmin amortizes, Arrow transfer doesn't), at ksub=64 the
    matmul wins (≈1.5×) and the gap grows with m·ksub — pick by
    codebook width, and prefer the Catalyst form when in doubt (it is
    also the only shuffle-free-by-construction one). Same
    argmax(2·dot − |c|²) formula, float64, ties → lower code
    (np.argmax's first-occurrence), so it reproduces pq_encode exactly
    on real data (pytest-pinned on the corpus; only last-ulp dot
    rounding could ever diverge, the same caveat the s13 oracle
    documents). The closure is self-contained (executors don't have
    this package on sys.path — the mm01 lesson). Output schema
    identical to pq_encode."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    books = [[list(map(float, c)) for c in cb] for cb in codebooks]
    _col = embedding_col

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in vectors.schema.fields
    ) + ", pq_code array<int>"

    def encode_batches(batches):
        import numpy as np

        cbs = [np.asarray(cb, dtype=np.float64) for cb in books]
        n2s = [(cb * cb).sum(axis=1) for cb in cbs]
        for pdf in batches:
            X = np.array([list(v) for v in pdf[_col]], dtype=np.float64)
            if len(X):
                codes = np.empty((X.shape[0], m), dtype=np.int64)
                for j in range(m):
                    sub = X[:, j * dsub : (j + 1) * dsub]
                    score = 2.0 * (sub @ cbs[j].T) - n2s[j]
                    codes[:, j] = np.argmax(score, axis=1)
                pdf = pdf.assign(pq_code=[list(map(int, c)) for c in codes])
            else:
                pdf = pdf.assign(pq_code=[])
            yield pdf

    return vectors.mapInPandas(encode_batches, out_schema)


def adc_tables(query: list[float], codebooks: list) -> list[float]:
    """The (m·ksub)-flat ADC table for one query, driver-side: entry
    j·ksub+c is |q_j − codebooks[j][c]|². `adc_table` is the in-row
    form every probe uses; this one feeds s14's fixed probe model,
    which the DuckDB oracle replays as literals."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out: list[float] = []
    for j in range(m):
        qj = query[j * dsub : (j + 1) * dsub]
        for c in codebooks[j]:
            out.append(float(sum((a - b) * (a - b) for a, b in zip(qj, c))))
    return out


def adc_table(query: Column, codebooks: list, minus: Column | None = None) -> Column:
    """The flat (m·ksub) ADC table of a query column, in-row: one
    zip_with over the m·ksub codewords (a 2-D literal) and their
    subvector offsets, each entry |q_j − c|² folded left to right —
    the same bits as `adc_tables`. Computed once per probe row, never
    per candidate. `minus` (a residual store's cell centroid) makes
    the entries |(q_j − minus_j) − c|²; it is sliced per entry, since
    a whole residual column would be re-evaluated by every entry's
    lambda."""
    dsub = len(codebooks[0][0])
    words = _lit_array([[float(x) for x in c] for cb in codebooks for c in cb])
    starts = _lit_array([j * dsub + 1 for j, cb in enumerate(codebooks) for _ in cb])

    def sub(s: Column) -> Column:
        qj = F.slice(query, s, dsub)
        if minus is None:
            return qj
        return F.zip_with(qj, F.slice(minus, s, dsub), lambda a, b: a - b)

    return F.zip_with(
        words,
        starts,
        lambda c, s: F.aggregate(
            F.zip_with(sub(s), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
    )


def adc_distance(code: Column, table: Column, ksub: int) -> Column:
    """A candidate's ADC distance: m lookups into its probe row's flat
    table, indexed by its code, summed left to right from 0.0."""
    return F.aggregate(
        F.transform(code, lambda c, j: F.get(table, j * ksub + c)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def pq_adc_topk(
    coded: DataFrame,
    queries: list[tuple[int, list[float]]],
    codebooks: list,
    k: int = 3,
    rerank_from: int | None = None,
    embedding_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k per query over a pq_encoded corpus via ADC:
    the queries become a small broadcast frame whose rows carry their
    in-row ADC table (`adc_table`), a candidate's distance is m
    lookups off its code (`adc_distance`), ranking is one window.
    Output: (q_id, rank, vec_id, adc) ascending distance, ties → lower
    vec_id.

    `rerank_from=R` is the production IVF-PQ refinement step: shortlist
    R candidates by ADC (codes only — the cheap, cache-resident scan),
    then rank the final k by EXACT L2 over `embedding_col`, which is
    touched for only Q·R rows. ADC error then only costs recall when a
    true top-k member falls outside the R-shortlist. Measured on the
    synthetic 64-dim corpus (near-uniform — a hard case for PQ) at
    m=16/ksub=16: recall@10 0.52 raw ADC → 0.88 at R=50 → 0.96 at
    R=100 → 1.00 at R=150 (tests/test_pq.py pins the curve's floor).
    Adds the exact distance as `d2`."""
    if rerank_from and rerank_from < k:
        raise ValueError(f"rerank_from={rerank_from} < k={k}")
    q = coded.sparkSession.createDataFrame(
        [(int(qid), [float(x) for x in qvec]) for qid, qvec in queries],
        "q_id long, qe array<double>",
    )
    q = q.withColumn("t", adc_table(F.col("qe"), codebooks))
    carry = [embedding_col, "qe"] if rerank_from else []
    pairs = (
        coded.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            *carry,
            adc_distance(F.col("pq_code"), F.col("t"), len(codebooks[0])).alias("adc"),
        )
    )
    w = W.partitionBy("q_id").orderBy("adc", "vec_id")
    if not rerank_from:
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", "vec_id", F.round("adc", 6).alias("adc"))
            .orderBy("q_id", "rank")
        )
    # exact L2 only on the Q·R shortlist rows
    e = F.col(embedding_col).cast("array<double>")
    qe = F.col("qe")
    d2 = _dot(e, e) - 2.0 * _dot(e, qe) + _dot(qe, qe)
    wx = W.partitionBy("q_id").orderBy("d2", "vec_id")
    return (
        pairs.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank_from)
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "rank",
            "vec_id",
            F.round("adc", 6).alias("adc"),
            F.round("d2", 6).alias("d2"),
        )
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# s13 draft (register when the window allows — REGISTRY.md): PQ encode
# with a FIXED, corpus-independent codebook, which makes the encoder
# DuckDB-certifiable the same way d35 fixed its merge table. The
# codebook values are generated by one deterministic integer formula
# used by BOTH the Spark literals and the SQL VALUES — a single source
# of truth, so the two sides cannot drift. The fixed codebook is a
# deliberately arbitrary quantizer: the row certifies the ENCODER's
# argmin/tie semantics, not quantization quality (pq_train's quality
# is pinned by the recall tests).

S13_M, S13_KSUB, S13_DIM = 4, 4, 64


def s13_codebooks() -> list:
    """codebooks[m][ksub][dsub] from a deterministic integer formula —
    values in [-1.25, 1.25] at 0.25 granularity, exactly representable
    in binary floating point so both engines hold identical doubles."""
    dsub = S13_DIM // S13_M
    return [
        [
            [(((j + 1) * (c + 2) * (d + 3)) % 11 - 5) / 4.0 for d in range(dsub)]
            for c in range(S13_KSUB)
        ]
        for j in range(S13_M)
    ]


def s13_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s13 registry form (registered r11): pq_encode over the
    embeddings table with the fixed s13 codebook — (vec_id, pq_code)
    where pq_code is the code array folded to a dash-joined STRING
    scalar ("1-0-3-2"), per the r10 registry convention (driver rows
    are scalar-only; the array form stays the pq_encode library
    contract, pinned separately in tests/test_pq.py). The oracle
    (S13_ORACLE_DRAFT) scores the SAME maximization formula
    (2·dot − |c|², ties → lower code) so the two engines differ only
    in last-ulp dot-product rounding; the codebook's exactly-
    representable values keep that risk to the dot itself, and the
    pytest pin runs the pair at both sf0.001 and (in-session) sf0.01."""
    from indexr_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        pq_encode(emb, s13_codebooks())
        .select(
            "vec_id",
            F.array_join(F.col("pq_code").cast("array<string>"), "-").alias(
                "pq_code"
            ),
        )
        .orderBy("vec_id")
    )


def _s13_oracle_sql() -> str:
    cbs = s13_codebooks()
    dsub = S13_DIM // S13_M
    vals = ", ".join(
        f"({j}, {c}, [{', '.join(repr(x) for x in cb)}]::DOUBLE[], "
        f"{sum(x * x for x in cb)!r})"
        for j, book in enumerate(cbs)
        for c, cb in enumerate(book)
    )
    return f"""
WITH cb(j, code, c, n2) AS (VALUES {vals}),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
sub AS (
  SELECT vec_id, j, e[j*{dsub}+1 : (j+1)*{dsub}] AS s
  FROM e CROSS JOIN (SELECT unnest(range({S13_M})) AS j)
),
scored AS (
  SELECT vec_id, sub.j, cb.code,
         2*list_dot_product(s, cb.c) - cb.n2 AS score
  FROM sub JOIN cb ON cb.j = sub.j
),
best AS (
  SELECT vec_id, j, code,
         row_number() OVER (PARTITION BY vec_id, j
                            ORDER BY score DESC, code) AS rn
  FROM scored
)
SELECT vec_id,
       array_to_string(list(code ORDER BY j), '-') AS pq_code
FROM best WHERE rn = 1
GROUP BY vec_id ORDER BY vec_id
"""


S13_ORACLE_DRAFT = _s13_oracle_sql()

# Registered r11 (REGISTRY.md queue): the draft oracle becomes the
# certified oracle; the only change at registration was folding the
# code array to a dash-joined scalar on BOTH sides (the r10
# convention), with the fold pinned lossless in tests/test_pq.py.
QUERIES = {"s13_pq_encode": s13_pq_encode}
ORACLE = {"s13_pq_encode": S13_ORACLE_DRAFT}

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

    return [
        [((((c + 2) * (d + 7)) % 13) - 6) / 4.0 for d in range(S13_DIM)]
        for c in range(S14_NLIST)
    ]


def s14_queries() -> list[list[float]]:
    """Query vectors[S14_NQ][S13_DIM], quarter-valued by formula —
    corpus-independent, so the probe choice and ADC tables derived
    from them are pure literals on both sides."""

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
    from indexr_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    coded = _s14_coded_arrow(emb, s14_centroids())

    probe = F.broadcast(
        spark.createDataFrame(
            _s14_probe_rows(),
            "q_id long, cell int, t array<double>, qe array<double>, qn double",
        )
    )
    adc = adc_distance(F.col("pq_code"), F.col("t"), S13_KSUB)
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


# Registered r13 (REGISTRY.md queue): the full IVF-PQ probe path —
# coarse assign → residual PQ encode → broadcast ADC shortlist at R →
# exact-cosine rerank at k.
QUERIES["s14_ivfpq_probe"] = s14_ivfpq_probe
ORACLE["s14_ivfpq_probe"] = S14_ORACLE_DRAFT
