"""Similarity search over the `embeddings` table (array<float>, 64-d).

Brute-force cosine top-k as the correctness baseline, plus a blocked
pair search (the shape of a bucketed/IVF scale path: candidate pairs
form only inside a block, never across the full n² space).

All vector math is pure Catalyst: cast to double, zip_with for the
elementwise product, aggregate for the left-to-right fold — no Python
boundary, identical accumulation order to the DuckDB oracle's
list_dot_product over DOUBLE[], and rounded to 6dp before hashing.

Scale notes: top-k broadcasts the (tiny) query set against the
embedding corpus — a map-side cross product followed by a per-query
top-k (rank ≤ k) that AQE keeps shuffle-light. The blocked pair
search shuffles on the block key only. For 100 TB, swap the block key
for an IVF cell id (k-means centroid assignment) — the join topology
is unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from indexr_spark.functions.joins import chunked_self_join
from indexr_spark.tables import load_table

ORACLE: dict[str, str] = {}

TOPK_QUERIES = 5
TOPK_K = 3
PAIR_THRESHOLD = 0.35


def _as_double(e: Column) -> Column:
    return F.transform(e, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of the elementwise product (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _lit_array(values: list) -> Column:
    """A literal array of numbers (nested lists nest) built in ONE JVM
    call from SQL text: F.lit on a Python list makes one Py4J round
    trip per element, 0.6-0.8 s for a 16×64 centroid matrix. Floats
    keep their exact value (repr round-trips, the D suffix types them
    DOUBLE); ints stay INT."""

    def sql(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(sql(x) for x in v) + ")"
        if isinstance(v, int):
            return str(v)
        x = float(v)
        return f"{x!r}D" if math.isfinite(x) else f"double('{x}')"

    return F.expr(sql(values))


def _dots_2d(col: Column, vectors: list[list[float]]) -> Column:
    """Array of left-to-right dot products of `col` against each row
    of a 2-D literal — ONE transform lambda regardless of row count.
    This is THE constant-size expression shape that fixed the r3 s06
    regression (a per-vector expression fan cost ~2 s of codegen/eval
    at 10 vectors; pinned by test_argmax_cell_expression_stays_
    constant_size). All in-row model scoring (IVF argmax, LSH planes,
    nprobe selection) goes through this single definition."""
    return F.transform(
        _lit_array([[float(x) for x in v] for v in vectors]),
        lambda v: F.aggregate(
            F.zip_with(col, v, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


# Hoisted to functions/compat.py in r12 (the r11 verdict's task 6:
# one shared factory for every numpy path that mirrors F.round).
# Re-exported under the historical name so existing consumers and the
# test battery keep their import site.
from indexr_spark.functions.compat import make_round6_half_up as _make_round6_half_up  # noqa: E402


def _unit_scaled(vectors: list[list[float]]) -> list[list[float]]:
    """Each vector divided by its norm driver-side (zero-norm -> as-is);
    lets cosine ARGMAX/ranking consumers skip per-row division."""
    return [
        [float(x) / ((sum(y * y for y in v) ** 0.5) or 1.0) for x in v]
        for v in vectors
    ]


def _argmax_cell(centroids: list[list[float]], labels: list[int] | None = None) -> Column:
    """Nearest-centroid id by cosine: a 2-D literal of norm-scaled
    centroids + ONE transform lambda for the dot products (_dots_2d)
    + an array_max over (dot, -label) structs, so ties break toward
    the smaller label. Cosine argmax is scale-invariant in |e|, so
    dividing by the row norm is skipped; scaling each centroid by
    1/|c| happens driver-side. Expects column e (array<double>).
    Returns a long column `cell`."""
    labels = labels if labels is not None else list(range(len(centroids)))
    dots = _dots_2d(F.col("e"), _unit_scaled(centroids))
    neg = F.lit([-int(l) for l in labels])
    best = F.array_max(
        F.zip_with(dots, neg, lambda d, nl: F.struct(d.alias("c"), nl.alias("nc")))
    )
    return (-best["nc"]).cast("long").alias("cell")


def _with_norm(df: DataFrame) -> DataFrame:
    # Vector math is CPU-bound on tiny input bytes; spread rows across
    # cores explicitly (Spark splits scans by bytes, not by work). At
    # real scale the scan supplies the parallelism and AQE coalesces.
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, "vec_id")
    e = _as_double(F.col("embedding"))
    return df.select(
        "vec_id", "label", e.alias("e"), F.sqrt(_dot(e, e)).alias("nrm")
    )


def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query vectors (vec_id < 5) broadcast
    against the whole corpus, ranked per query.

    r13 opt: the normed corpus is pinned once (lazy checkpoint) — the
    query-side broadcast build and the corpus-side stream previously
    each recomputed scan + norm (2 scans in the before-plan); the
    broadcast build now materializes the pin and the stream reuses it.
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=False
    )
    q = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    pairs = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK_K)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


ORACLE["s01_cosine_topk"] = f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM n WHERE vec_id < {TOPK_QUERIES}
), pairs AS (
  SELECT q_id, vec_id, list_dot_product(qe, e) / (qn * nrm) AS cos
  FROM q JOIN n ON vec_id != q_id
), ranked AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
  FROM pairs
)
SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {TOPK_K}
ORDER BY q_id, rank
"""


def s02_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked cosine similarity pairs: candidates only within the
    same label block (the IVF-cell pattern), kept above a threshold.
    Embedding-cosine near-dup detection at scale is exactly this with
    a learned cell id as the block key.

    r13 opt: the normed corpus is pinned once (lazy checkpoint) — both
    sides of the label-block self-join previously recomputed
    scan + norm independently (2 scans in the before-plan)."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=False
    )
    a = emb.select(
        F.col("vec_id").alias("a_id"), F.col("label"), F.col("e").alias("ae"), F.col("nrm").alias("an")
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"), F.col("label").alias("label_b"), F.col("e").alias("be"), F.col("nrm").alias("bn")
    )
    cos = _dot(F.col("ae"), F.col("be")) / (F.col("an") * F.col("bn"))
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("a_id") < F.col("b_id")))
        .select("a_id", "b_id", "label", cos.alias("cos"))
        .filter(F.col("cos") >= PAIR_THRESHOLD)
        .select("a_id", "b_id", "label", F.round("cos", 6).alias("cosine"))
        .orderBy("a_id", "b_id")
    )


ORACLE["s02_embedding_pairs"] = f"""
WITH n AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= {PAIR_THRESHOLD}
ORDER BY a_id, b_id
"""


def s03_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block centroid + stats — the "coarse quantizer" build step
    of an IVF index, as a single aggregation (posexplode → mean per
    dimension → re-assemble). Returns one row per (label, dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x")
    )
    return (
        pos.groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("centroid"), F.count("*").alias("n_vecs"))
        .orderBy("label", "dim")
    )


ORACLE["s03_label_centroids"] = """
SELECT label, CAST(dim - 1 AS INTEGER) AS dim,
       round(avg(x), 6) AS centroid,
       count(*)         AS n_vecs
FROM (
  SELECT label, unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
)
GROUP BY label, dim
ORDER BY label, dim
"""


ANN_PLANES = 4  # 2^4 = 16 buckets; ~n/16 candidates per query
ANN_QUERIES = 20
ANN_K = 3


def _plane_weights() -> list[list[float]]:
    """Hyperplane weights, derived from the portable md5 hash —
    w[p][i] = (hash32(f"{p}_{i}") % 2001 - 1000) / 1000 ∈ [-1, 1] —
    so both engines build the *same* planes with no RNG state.
    Computed driver-side (hashlib md5 ≡ SQL md5); the planes are a
    4×64 constant, i.e. broadcast-sized by construction."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        [(h32(f"{p}_{i}") % 2001 - 1000) / 1000.0 for i in range(64)]
        for p in range(ANN_PLANES)
    ]


def _bucket_of(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: sign bits of the
    plane dot products concatenate into the bucket id.

    The dot products fold *within the row* against literal plane
    arrays — bucket assignment costs ZERO shuffles and stays in
    whole-stage codegen (an earlier posexplode→join→groupBy
    formulation shuffled |vecs|·64 rows twice). Only the dot's sign
    is consumed, so summation-order float noise cannot flip results
    away from the oracle's equivalent construction."""
    return emb.select("vec_id", _bucket_expr().alias("bucket"))


def _bucket_expr() -> Column:
    """The bucket id as a row-local COLUMN over `e` — usable directly
    in a projection (no join-back needed, e.g. the numpy near-dup
    path). ONE 2-D plane literal + ONE transform lambda for all plane
    dots (_dots_2d — the constant-size expression shape). Planes stay
    RAW (not unit-scaled): only the dot's SIGN is consumed and the
    values must fold identically to the oracle's sum(x*w)."""
    dots = _dots_2d(F.col("e"), _plane_weights())
    bits = F.lit([1 << p for p in range(ANN_PLANES)])
    return F.aggregate(
        F.zip_with(
            dots, bits, lambda d, b: F.when(d >= 0, b).otherwise(F.lit(0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _norm_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, e, nrm, bucket) — the normed corpus with its
    LSH bucket as an in-row PROJECTION, pinned once (lazy checkpoint).

    r13 opt, two parts. (1) The old `emb.join(_bucket_of(emb))`
    join-back computed scan + norm on BOTH join inputs just to attach
    a column `_bucket_expr` can project in place — the join (and its
    duplicate subtree) is gone. (2) Every consumer reads this frame at
    least twice (query side + corpus side, or both sides of a
    self-join), so the pin makes scan + norm + plane-dot cost
    once-per-query instead of once-per-consumer (s04's before-plan
    carried 4 scans, s10's 8). The first job to touch it (a broadcast
    build everywhere) materializes the checkpoint.

    Scale caveat (r13 ADVICE): localCheckpoint stores blocks in
    NON-reliable executor-local storage with lineage truncated — an
    executor loss or dynamic-allocation scale-down makes the pinned
    frame unrecoverable and fails the job. It is the right lineage cut
    for a single-box bench and for clusters without executor churn;
    the churn-tolerant cluster forms of the same cut are reliable
    checkpoint() (HDFS/object store) or persist(DISK_ONLY) with
    recompute — the CSE structure above is unchanged under either."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    return emb.withColumn("bucket", _bucket_expr()).localCheckpoint(eager=False)


def _lsh_topk_frame(embb: DataFrame) -> DataFrame:
    """The s04 ranking over a prepared (vec_id, e, nrm, bucket) frame —
    shared verbatim by s04 and s10's approx leg so the two cannot
    drift."""
    q = embb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qb"),
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    pairs = embb.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("q_id")),
    ).select("q_id", "vec_id", cos.alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


def s04_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbours via random-hyperplane LSH:
    candidates come only from the query's bucket (≈ n/16 of the
    corpus), then exact cosine ranks them. This is the scale path for
    s01 — at 100 TB the bucket id becomes the shuffle/partition key
    and each query touches one bucket instead of the whole corpus.
    Recall < 1.0 by design; determinism (and the oracle) is exact."""
    return _lsh_topk_frame(_norm_bucketed(spark, sf_dir))


ORACLE["s04_ann_lsh_topk"] = f"""
WITH planes AS (
  SELECT p, dim,
         (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(dim AS VARCHAR)), 1, 8))::BIGINT
          % 2001 - 1000) / 1000.0 AS w
  FROM (SELECT unnest(range(0, {ANN_PLANES})) AS p),
       (SELECT unnest(range(0, 64)) AS dim)
), pos AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), dots AS (
  SELECT vec_id, p, sum(x * w) AS dot
  FROM pos JOIN planes USING (dim)
  GROUP BY vec_id, p
), buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
), n AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm,
         b.bucket
  FROM embeddings e JOIN buckets b USING (vec_id)
), q AS (
  SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS qb
  FROM n WHERE vec_id < {ANN_QUERIES}
), pairs AS (
  SELECT q_id, n.vec_id, list_dot_product(qv, v) / (qn * nrm) AS cos
  FROM q JOIN n ON n.bucket = qb AND n.vec_id != q_id
), ranked AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
  FROM pairs
)
SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {ANN_K}
ORDER BY q_id, rank
"""


NEARDUP_THRESHOLD = 0.35


def d10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection over the full corpus.

    The scale shape of semantic dedup: candidates form only inside an
    LSH bucket (same random-hyperplane signature — never the n² cross
    product), exact cosine confirms ≥ threshold, and each confirmed
    duplicate elects the lowest-id match as its representative
    (arg-min greedy — the standard keep-first policy). At 100 TB the
    bucket id is the shuffle key; everything downstream of the bucket
    join touches only candidate pairs.
    """
    # _norm_bucketed pins the normed, bucketed corpus: the self-join
    # reads it on both sides.
    embb = _norm_bucketed(spark, sf_dir)
    # Chunked bucket self-join — the quadratic-bucket skew valve: the
    # plain join on the bucket key has only 2^ANN_PLANES distinct keys,
    # so each bucket's k²/2 pair generation would run inside ONE task.
    # Embedding rows are WIDE (dim doubles) and the valve replicates
    # left-side rows ~C/2 times through the join shuffle — but the
    # per-pair cost here is a 64-element HOF dot product, so compute
    # balance beats shuffle bytes and the default C stays (joins.py
    # documents the model). The other half of the 100 TB story is
    # sizing: planes must grow with the corpus so bucket size stays
    # bounded — planes ≈ log2(n / target) — while this corpus pins
    # ANN_PLANES=4 for oracle comparability. embb comes off
    # _with_norm's vec_id repartition, so the probe needs no exchange.
    joined = chunked_self_join(embb, key_cols=["bucket"], order_col="vec_id")
    cos = _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = joined.select(
        F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"), cos.alias("cos")
    ).filter(F.col("cos") >= NEARDUP_THRESHOLD)
    return (
        pairs.groupBy(F.col("b_id").alias("dup_id"))
        .agg(
            F.min("a_id").alias("keep_id"),
            F.round(F.min_by("cos", "a_id"), 6).alias("rep_cosine"),
            F.count("*").alias("n_matches"),
        )
        .orderBy("dup_id")
    )


# Shared by d10 and s11: the exact LSH-bucketed candidate-pair set
# with left-to-right list_dot_product cosines.
_NEARDUP_PAIRS_CTE = f"""
WITH planes AS (
  SELECT p, dim,
         (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(dim AS VARCHAR)), 1, 8))::BIGINT
          % 2001 - 1000) / 1000.0 AS w
  FROM (SELECT unnest(range(0, {ANN_PLANES})) AS p),
       (SELECT unnest(range(0, 64)) AS dim)
), pos AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), dots AS (
  SELECT vec_id, p, sum(x * w) AS dot
  FROM pos JOIN planes USING (dim)
  GROUP BY vec_id, p
), buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
), n AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm,
         b.bucket
  FROM embeddings e JOIN buckets b USING (vec_id)
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {NEARDUP_THRESHOLD}
)
"""

ORACLE["d10_embedding_neardup"] = _NEARDUP_PAIRS_CTE + """
SELECT b_id AS dup_id,
       min(a_id)                  AS keep_id,
       round(arg_min(cos, a_id), 6) AS rep_cosine,
       count(*)                   AS n_matches
FROM pairs
GROUP BY b_id
ORDER BY dup_id
"""


IVF_QUERIES = 20
IVF_K = 3


def s06_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the s03 centroid build
    is the coarse quantizer — every vector is assigned to its
    nearest-centroid cell, and each query probes ONLY its own cell
    (nprobe=1) before exact cosine ranks the candidates.

    At 100 TB this is the classic two-level ANN layout: the corpus is
    *partitioned by cell id on disk*, the (tiny) centroid table is
    broadcast, and a query reads one cell instead of the corpus —
    partition pruning does the candidate cut before any shuffle.

    Determinism: centroids are rounded to 6dp BEFORE the dot product
    so both engines fold identical inputs; assignment ties break by
    label asc (margins here are far beyond float noise).
    """
    # r13 opt: pin the normed corpus (lazy checkpoint) — the centroid
    # build, the assignment pass, and the query-side filter all read
    # it; before the pin the centroid collect and BOTH sides of the
    # cell join each re-ran scan + norm (2 scans in the before-plan,
    # plus the collect's own pass). The centroid collect below is the
    # job that materializes it.
    emb = _with_norm(load_table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=False
    )
    # Centroid build: one hash aggregate with a per-dimension avg column —
    # partial (map-side) combine reduces each partition to 10×dim doubles
    # before the shuffle. The r3 formulation posexploded the corpus to
    # |rows|·dim and re-joined labels: 6.4M shuffled rows and ~12 s of the
    # 7.5 s regression lived there (labels were already ON emb).
    # Dimension probe reads ONE row of the raw table — probing through
    # `emb` would force _with_norm's repartition shuffle just to fetch a
    # row. An empty corpus yields the empty result, not a TypeError.
    first = load_table(spark, sf_dir, "embeddings").select("embedding").head()
    if first is None or first["embedding"] is None:
        return spark.createDataFrame(
            [], "q_id long, rank int, vec_id long, cosine double"
        )
    dim = len(first["embedding"])
    cent = emb.groupBy("label").agg(
        F.array(*[F.round(F.avg(F.col("e")[i]), 6) for i in range(dim)]).alias("cv")
    )
    # The coarse quantizer is a 10-row model: pull it to the driver and
    # assign cells with an in-row argmax over literal centroid arrays —
    # zero joins, zero shuffles for the assignment (the earlier
    # broadcast-join + window formulation shuffled the corpus twice).
    # Centroids are already rounded to 6dp, so both engines fold the
    # exact same values. Tie-break: smaller cell wins (struct max on
    # (ccos, -cell)).
    model = sorted(
        ((r["label"], list(r["cv"])) for r in cent.collect()), key=lambda x: x[0]
    )
    # The r3 formulation built one struct expression PER centroid, each
    # holding its own 64-element array literal — measured 2-2.4 s of pure
    # codegen/eval overhead at this size (the 3.7x regression; and note
    # PySpark's F.lit(list) expands to a 64-child CreateArray, so "one
    # Literal per centroid" is not reachable from Python — ConstantFolding
    # equalizes both forms, the cost was the per-centroid expression fan).
    # Instead: ONE 2-D literal of norm-scaled centroids and ONE transform
    # lambda — expression size is constant in k, measured 0.5-0.7 s, and
    # the assignment still costs zero joins / zero shuffles. Scaling by
    # 1/|c| driver-side only feeds the ARGMAX (candidate selection); the
    # reported cosine is computed exactly downstream, and assignment
    # margins are far beyond float noise (r3 determinism note).
    best_cell = _argmax_cell(
        [cv for _, cv in model], [cell for cell, _ in model]
    )
    # r13 opt: pin the assignment too — the query-side broadcast build
    # and the corpus-side stream both consume `assigned`, so without
    # the pin the k×dim in-row argmax (the most CPU-dense expression
    # in this query) ran twice. The broadcast build materializes it.
    assigned = emb.select("vec_id", "e", "nrm", best_cell).localCheckpoint(
        eager=False
    )
    q = assigned.filter(F.col("vec_id") < IVF_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("cell").alias("qc"),
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    pairs = assigned.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qc")) & (F.col("vec_id") != F.col("q_id")),
    ).select("q_id", "vec_id", cos.alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_K)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cosine"))
        .orderBy("q_id", "rank")
    )


ORACLE["s06_ivf_topk"] = f"""
WITH pos AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), cent_dims AS (
  SELECT label, dim, round(avg(x), 6) AS c
  FROM pos GROUP BY label, dim
), cent AS (
  SELECT label AS cell, list(c ORDER BY dim) AS cv,
         sqrt(list_dot_product(list(c ORDER BY dim), list(c ORDER BY dim))) AS cn
  FROM cent_dims GROUP BY label
), n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), scored AS (
  SELECT n.vec_id, n.v, n.nrm, cent.cell,
         list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn) AS ccos
  FROM n CROSS JOIN cent
), assigned AS (
  SELECT vec_id, v, nrm, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
        FROM scored)
  WHERE rn = 1
), q AS (
  SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell AS qc
  FROM assigned WHERE vec_id < {IVF_QUERIES}
), pairs AS (
  SELECT q_id, a.vec_id, list_dot_product(qv, a.v) / (qn * a.nrm) AS cos
  FROM q JOIN assigned a ON a.cell = qc AND a.vec_id != q_id
), ranked AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
  FROM pairs
)
SELECT q_id, rank, vec_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {IVF_K}
ORDER BY q_id, rank
"""


APPROX_DISTINCT_TOL = 0.15  # HLL++ default rsd 5% → 3σ bound
APPROX_PCTL_TOL = 0.02  # percentile_approx accuracy=10000 → rank err ≪ 2%


def s05_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (HLL) + approximate quantiles per group —
    the at-scale substitutes for exact countDistinct / percentiles
    (sketches merge associatively; one map-side-combined pass).

    Driver-scoreable contract: sketch estimates are
    implementation-defined, so the query emits the EXACT values plus
    within-relative-tolerance verdicts of the sketch against them —
    both engine-portable. The oracle computes the same exact values
    and asserts the verdicts TRUE, so a sketch drifting outside
    tolerance flips a boolean and fails the value-hash. Both Spark
    sketches are hash-based and deterministic, so the verdicts are
    stable run to run."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("p50a"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50e"),
        F.percentile_approx("l_extendedprice", 0.95).alias("p95a"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95e"),
    )

    def within(approx, exact, tol):
        return (
            F.abs(approx.cast("double") - exact) / exact <= tol
        )

    return agg.select(
        "l_returnflag",
        "exact_parts",
        F.round("p50e", 4).alias("p50_exact"),
        F.round("p95e", 4).alias("p95_exact"),
        within(F.col("ap"), F.col("exact_parts"), APPROX_DISTINCT_TOL).alias(
            "parts_within_tol"
        ),
        within(F.col("p50a"), F.col("p50e"), APPROX_PCTL_TOL).alias("p50_within_tol"),
        within(F.col("p95a"), F.col("p95e"), APPROX_PCTL_TOL).alias("p95_within_tol"),
    ).orderBy("l_returnflag")


ORACLE["s05_approx_stats"] = """
SELECT l_returnflag,
       count(DISTINCT l_partkey)                      AS exact_parts,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50_exact,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
       TRUE AS parts_within_tol,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""



def s07_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — the ground truth s05's
    sketches approximate. Spark's `percentile` and DuckDB's
    `quantile_cont` use the same linear interpolation, so this is fully
    value-hash-checkable. Exact percentiles need the group's values
    together (a sort per group under the hood) — at 100 TB run s05's
    mergeable sketches for monitoring and reserve this for final stats
    on bounded groups."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE["s07_exact_percentiles"] = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
       round(quantile_cont(l_quantity, 0.5), 4)       AS p50_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


HLL_SKETCH_TOL = 0.05  # lgConfigK=12 → rsd ≈ 1.6%; 3σ with headroom


def s08_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (DataSketches, built-in since Spark 3.5):
    build one distinct-parts sketch per return flag, then UNION the
    stored sketches for the global estimate — the at-scale
    distinct-counting architecture (sketches are tiny, associative,
    and re-mergeable later without touching the data again; exact
    countDistinct re-shuffles everything every time).

    Driver-scoreable contract (same shape as s05): emit the exact
    distinct counts plus a within-relative-tolerance verdict of each
    sketch estimate — per flag AND for the sketch-union row, so the
    merge path is scored too, not just the leaf sketches. The oracle
    computes the same exact values and asserts the verdicts TRUE.
    The sketch is hash-based and deterministic. (The estimates
    themselves are engine-specific so they cannot appear in the
    oracle-checked output; test_hll_sketch_union_accuracy rebuilds
    them independently and pins them inside the tighter ~2% bound.)"""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n_rows"),
    )
    verdict = (
        F.abs(F.hll_sketch_estimate("sk").cast("double") - F.col("exact_parts"))
        / F.col("exact_parts")
        <= HLL_SKETCH_TOL
    )
    flags = per_flag.select(
        "l_returnflag", "exact_parts", "n_rows", verdict.alias("within_rel_err")
    )
    glob = li.agg(F.countDistinct("l_partkey").alias("g_exact"))
    union = (
        per_flag.agg(
            F.hll_union_agg("sk").alias("sk"), F.sum("n_rows").alias("n_rows")
        )
        .crossJoin(F.broadcast(glob))
        .select(
            F.lit("__all__").alias("l_returnflag"),
            F.col("g_exact").alias("exact_parts"),
            "n_rows",
            (
                F.abs(F.hll_sketch_estimate("sk").cast("double") - F.col("g_exact"))
                / F.col("g_exact")
                <= HLL_SKETCH_TOL
            ).alias("within_rel_err"),
        )
    )
    return flags.unionByName(union).orderBy("l_returnflag")


ORACLE["s08_hll_sketch_union"] = """
WITH flags AS (
  SELECT l_returnflag,
         count(DISTINCT l_partkey) AS exact_parts,
         count(*)                  AS n_rows,
         TRUE                      AS within_rel_err
  FROM lineitem GROUP BY l_returnflag
), overall AS (
  SELECT '__all__'                 AS l_returnflag,
         count(DISTINCT l_partkey) AS exact_parts,
         count(*)                  AS n_rows,
         TRUE                      AS within_rel_err
  FROM lineitem
)
SELECT * FROM flags UNION ALL SELECT * FROM overall
ORDER BY l_returnflag
"""


def s09_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings — the storage/serving
    compression step every vector store applies (4× smaller than
    float32, SIMD-dot-product friendly). Per vector: scale = max |x|,
    q_i = floor(x_i / scale * 127). Fully in-row (zero shuffles, scan
    parallel); floor over IEEE-identical double expressions makes the
    quantized values bit-exact on both engines — no rounding-mode
    hazard. Emits the quantization summary + max reconstruction error
    (the quality metric that decides whether int8 serving is safe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # v → scale → q staged as columns: scale is referenced inside the
    # quantize lambda and q is consumed four times, and Catalyst does
    # no CSE inside lambda bodies (text.py d22 note) — raw expressions
    # would recompute the scale per element and re-quantize per use.
    # CAUTION: `err` must be computed BEFORE any select that aliases a
    # ROUNDED column back to the name "scale" — a column reference
    # inside a HOF lambda resolves against the select list's lateral
    # aliases (the rounded value), while the same reference outside a
    # lambda resolves against the child (the raw value). Verified live:
    # select(round(scale,6) AS scale, transform(v, x -> x*scale))
    # multiplies by the ROUNDED scale.
    staged = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("scale", F.array_max(F.transform("v", F.abs)))
        .withColumn(
            "q",
            F.transform(
                "v", lambda x: F.floor(x / F.col("scale") * 127).cast("int")
            ),
        )
        .withColumn(
            "err",
            F.array_max(
                F.zip_with(
                    "v", "q", lambda x, qi: F.abs(x - qi * F.col("scale") / 127)
                )
            ),
        )
    )
    return staged.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate("q", F.lit(0), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.round("err", 6).alias("max_recon_err"),
    ).orderBy("vec_id")


ORACLE["s09_quantize_int8"] = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
  FROM embeddings
), q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(floor(x / scale * 127) AS INTEGER)) AS q
  FROM v
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(q) AS INTEGER) AS q_sum,
       list_min(q) AS q_min,
       list_max(q) AS q_max,
       round(list_max(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - q[i] * scale / 127))), 6) AS max_recon_err
FROM q
ORDER BY vec_id
"""


def s10_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the LSH-bucketed search
    (s04) against exhaustive ground truth, per query — the metric
    that decides whether an index's recall/cost operating point is
    acceptable before swapping it into a retrieval pipeline.

    Ground truth is one brute-force pass over s04's query set (same
    broadcast shape as s01); the recall join then touches only
    queries×k rows, so total cost ≈ one exact pass + one bucketed
    pass — at 100 TB the eval runs on a sampled query set while the
    index serves the rest, which is exactly this plan with a
    different query filter.

    r13 opt: both legs read ONE pinned norm+bucket frame
    (_norm_bucketed) — the before-plan re-derived scan + norm (+ plane
    dots on the approx side) 8 times across the exact q side, the
    exact corpus side, and s04's four subtrees. The approx leg shares
    s04's ranking core (_lsh_topk_frame) verbatim, so results are
    unchanged by construction."""
    embb = _norm_bucketed(spark, sf_dir)
    q = embb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    pairs = embb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", cos.alias("cos")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    exact = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "vec_id")
    )
    approx = _lsh_topk_frame(embb).select("q_id", "vec_id")
    hits = (
        exact.join(approx, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hits"))
    )
    truth = exact.groupBy("q_id").agg(F.count("*").alias("k"))
    n_hits = F.coalesce("n_hits", F.lit(0).cast("long"))
    return (
        truth.join(hits, "q_id", "left")
        .select(
            "q_id",
            n_hits.alias("n_hits"),
            F.round(n_hits.cast("double") / F.col("k"), 6).alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


# The approx side reuses s04's oracle verbatim as a nested CTE, so the
# two stay in lockstep by construction; the exact side is s01's shape
# over s04's query set.
ORACLE["s10_ann_recall"] = f"""
WITH approx AS (
  SELECT q_id, vec_id FROM ({ORACLE["s04_ann_lsh_topk"]})
), n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM n WHERE vec_id < {ANN_QUERIES}
), pairs AS (
  SELECT q_id, vec_id, list_dot_product(qe, e) / (qn * nrm) AS cos
  FROM q JOIN n ON vec_id != q_id
), ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
), exact AS (
  SELECT q_id, vec_id FROM ranked WHERE rank <= {ANN_K}
), stats AS (
  SELECT e.q_id,
         count(*) FILTER (WHERE a.vec_id IS NOT NULL) AS n_hits,
         count(*) AS k
  FROM exact e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
  GROUP BY e.q_id
)
SELECT q_id, n_hits, round(CAST(n_hits AS DOUBLE) / k, 6) AS recall_at_k
FROM stats
ORDER BY q_id
"""


QUERIES = {
    "s01_cosine_topk": s01_cosine_topk,
    "s02_embedding_pairs": s02_embedding_pairs,
    "s03_label_centroids": s03_label_centroids,
    "s04_ann_lsh_topk": s04_ann_lsh_topk,
    "s05_approx_stats": s05_approx_stats,
    "s06_ivf_topk": s06_ivf_topk,
    "s07_exact_percentiles": s07_exact_percentiles,
    "s08_hll_sketch_union": s08_hll_sketch_union,
    "s09_quantize_int8": s09_quantize_int8,
    "s10_ann_recall": s10_ann_recall,
    "d10_embedding_neardup": d10_embedding_neardup,
}


def neardup_pairs_numpy(
    emb: DataFrame, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Vectorized (BLAS) within-bucket near-dup pair search — the
    100 TB throughput path for the d10 workload.

    d10's Catalyst form evaluates one interpreted higher-order-function
    dot product PER CANDIDATE PAIR; at 100k vectors that is ~312M
    lambda folds (185 s chunk-parallelized — COVERAGE.md spot-run).
    Here each LSH bucket becomes ONE applyInPandas group and the whole
    bucket's pair block computes as a normalized matrix product
    (U @ U.T) in BLAS — thousands of FLOPs per cycle instead of an
    interpreted fold per pair. Measured ~30x faster at 100k vectors
    with the identical pair set on this corpus.

    NOT oracle-registered, by design: numpy sums the dot in a
    different association order than the oracle's left-to-right
    list_dot_product, so a cosine sitting exactly on a 6dp rounding
    boundary could differ in the last digit — fine for production
    dedup, wrong for a hash-matched correctness row. d10 stays the
    oracle-exact reference; the pytest asserts this path reproduces
    d10's pairs on the test corpora (where margins are far beyond
    float noise). Since r12 the presentation round itself is
    Spark-equivalent HALF_UP (the shared compat factory), so the only
    residual divergence source is association order on the raw sum —
    the tie DIRECTION can no longer disagree.

    Memory bound: one bucket's (k x dim) block plus its (k x k)
    cosine matrix must fit one worker (k=20k, dim=64 -> ~3.2 GB for
    the k x k block). At corpus scale keep buckets below that by
    sizing planes (planes ≈ log2(n / target_bucket)); for a skewed
    monster bucket, pre-split it with the chunked-join pattern at
    coarse granularity and matmul the chunk-pair blocks.

    Expects raw (vec_id, embedding) rows; returns (a_id, b_id,
    cosine) with a_id < b_id, cosine rounded to 6dp.
    """
    # Single-shuffle plan: the bucket id is a row-local expression
    # (_bucket_expr), so it rides the scan projection — no repartition,
    # no join-back; the groupBy(bucket) below is the only exchange.
    # (A prior draft repartitioned by vec_id and joined _bucket_of back
    # on: two extra full-corpus shuffles for nothing — review catch.)
    bucketed = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    ).select("vec_id", "e", _bucket_expr().alias("bucket"))

    # Spark-equivalent 6dp rounding (r12, the r11 verdict's task 6):
    # the pin test compares these cosines against F.round(raw, 6)
    # tuple-for-tuple, so the presentation round must be HALF_UP over
    # shortest-decimal, not np.round's half-to-even — captured OUTSIDE
    # the closure so cloudpickle ships it by value.
    r6 = _make_round6_half_up()

    def block(pdf):
        # self-contained worker: executors don't have the repo on
        # sys.path (cloudpickle ships this closure by value)
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cosine": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        X = np.array(pdf["e"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0
        U = X / nrm[:, None]
        S = U @ U.T
        iu = np.triu_indices(len(ids), k=1)
        mask = S[iu] >= threshold
        a, b = ids[iu[0][mask]], ids[iu[1][mask]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"a_id": lo, "b_id": hi, "cosine": r6(S[iu][mask])}
        )

    return bucketed.groupBy("bucket").applyInPandas(
        block, "a_id long, b_id long, cosine double"
    )


# Verdict tolerance for s11: the numpy cosine is ROUNDED to 6dp, so
# the honest bound vs the unrounded Catalyst fold is the 6dp rounding
# half-width plus association-order noise (~1e-15 relative).
NUMPY_COS_TOL = 6e-7


def s11_neardup_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certification row for `neardup_pairs_numpy`, the BLAS
    throughput path (r4 verdict task 6: it was pytest-gated only).

    The s05/s08 tolerance-verdict contract: the engine-portable
    outputs are the exact PAIR SET (margins on these corpora are far
    beyond float noise — the pytest parity test already pins numpy ==
    d10 pair-for-pair) plus a boolean verdict that each numpy cosine
    sits within NUMPY_COS_TOL of the Catalyst left-to-right fold
    recomputed for that pair. The oracle derives the same pair set
    (shared CTE with d10) and asserts the verdicts TRUE — the 10x
    path earns a CORRECTNESS row without pretending bit-exact
    summation order.

    Plan shape: the recomputation joins the pair list back to the
    corpus on each side id — equi-joins AQE sizes (broadcast while
    the pair side fits, shuffle-hash beyond), never a cross product.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = neardup_pairs_numpy(emb)
    # NOT _with_norm: its CPU-spreading repartition is wasted work
    # under the BroadcastExchange these sides land in (a repartition
    # feeding a broadcast just shuffles bytes that get collected
    # anyway — EXPLAIN.md showed the redundant Exchange).
    e = _as_double(F.col("embedding"))
    # r13 opt: pin prep — the a/b re-attach sides each re-ran
    # scan + norm from their own scan (2 of the 3 scans in
    # plans/r13/s11_neardup_numpy_before.txt); the first broadcast
    # build materializes the lazy checkpoint, the second reuses it.
    prep = emb.select(
        "vec_id", e.alias("e"), F.sqrt(_dot(e, e)).alias("nrm")
    ).localCheckpoint(eager=False)
    a = prep.select(
        F.col("vec_id").alias("a_id"), F.col("e").alias("ae"), F.col("nrm").alias("an")
    )
    b = prep.select(
        F.col("vec_id").alias("b_id"), F.col("e").alias("be"), F.col("nrm").alias("bn")
    )
    exact = _dot(F.col("ae"), F.col("be")) / (F.col("an") * F.col("bn"))
    return (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            (F.abs(F.col("cosine") - exact) <= NUMPY_COS_TOL).alias(
                "cos_within_tol"
            ),
        )
        .orderBy("a_id", "b_id")
    )


ORACLE["s11_neardup_numpy"] = _NEARDUP_PAIRS_CTE + """
SELECT a_id, b_id, TRUE AS cos_within_tol
FROM pairs
ORDER BY a_id, b_id
"""

QUERIES["s11_neardup_numpy"] = s11_neardup_numpy


KMEANS_K = 8  # s12 seeds: the first k vectors by vec_id


def kmeans_assign(emb_norm: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment + the cosine achieved, for a
    driver-side centroid list: (vec_id, e, nrm, cell, ccos), from one
    mapInPandas E·Cᵀ per Arrow batch — zero joins and zero shuffles at
    any corpus size. Centroids are unit-scaled driver-side
    (_unit_scaled), np.argmax's first-max breaks ties toward the
    smaller cell, and ccos = dot(e, c_unit)/|e|. Zero-norm rows emit
    NULL ccos (the JVM's non-ANSI x/0), so downstream aggregates skip
    them."""
    cu = _unit_scaled(centroids)

    def assign_batches(batches):
        # self-contained: executors don't import this package
        import numpy as np
        import pandas as pd

        Cu = np.asarray(cu, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["e"]])
            S = E @ Cu.T
            cell = S.argmax(axis=1)
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                ccos = S[np.arange(len(E)), cell] / nrm
            out = pd.DataFrame(
                {"vec_id": pdf["vec_id"], "e": list(E),
                 "nrm": pdf["nrm"], "cell": cell.astype("int64"),
                 "ccos": ccos}
            )
            if (nrm == 0).any():
                # JVM: x/0 is NULL under non-ANSI SQL — mirror it so
                # downstream aggregates skip the row
                out["ccos"] = out["ccos"].astype(object).where(nrm != 0, None)
            yield out

    return emb_norm.select("vec_id", "e", "nrm").mapInPandas(
        assign_batches,
        "vec_id long, e array<double>, nrm double, cell long, ccos double",
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = KMEANS_K,
    max_iters: int = 10,
    tol: float = 1e-4,
) -> tuple[list[list[float]], list[dict]]:
    """Full Lloyd loop (spherical k-means): iterate assignment +
    mean-centroid update until the largest centroid moves less than
    `tol` (L2) or `max_iters` rounds. Returns the final centroids and
    a per-iteration history of {iter, inertia, max_shift} — the
    trained coarse quantizer for an IVF index (sources/vector_store).

    Scale: each iteration is ONE distributed pass — kmeans_assign's
    per-batch argmax (no shuffle) followed by a map-combined k×dim
    aggregation whose output is k rows; only those k rows ever reach
    the driver. That per-round collect is k·d doubles of driver state
    — inherent to Lloyd's with driver-held centroids and fine through IVF-scale
    models (k~10⁴ × d~10³ ≈ 10 MB, a LAION-scale coarse quantizer);
    beyond that the centroid update itself must stay distributed
    (keep the aggregate as a frame and broadcast-join it into the
    next assignment instead of collecting). The
    normed corpus frame is persisted across iterations so the scan +
    norm cost is paid once, and unpersisted before returning. Seeding
    is the first k vectors by vec_id (deterministic); empty cells
    keep their previous centroid. Assignment by cosine is invariant
    to centroid scale, so mean centroids need no re-normalization.

    Accepts any (vec_id, embedding, ...) frame — no label column
    required (unlike _with_norm), so IVF-store builds can train on
    arbitrary vector corpora.
    """
    e = _as_double(F.col("embedding"))
    base = (
        emb.repartition(emb.sparkSession.sparkContext.defaultParallelism, "vec_id")
        .select("vec_id", e.alias("e"), F.sqrt(_dot(e, e)).alias("nrm"))
        .persist()
    )
    try:
        # first k by vec_id via TakeOrdered — NOT filter(vec_id < k),
        # which silently under-seeds (or empties) on corpora whose ids
        # don't densely start at 0 (review fix; build_ivf_store's
        # 1-step path always seeded this way)
        seed_rows = sorted(
            (r["vec_id"], [round(float(x), 6) for x in r["e"]])
            for r in base.orderBy("vec_id").limit(k).collect()
        )
        cents = [v for _, v in seed_rows]
        if not cents:
            return [], []
        dim = len(cents[0])
        history: list[dict] = []
        for it in range(max_iters):
            a = kmeans_assign(base, cents)
            rows = {
                r["cell"]: r
                for r in a.groupBy("cell")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.lit(1.0) - F.col("ccos")).alias("inertia"),
                    *[F.avg(F.col("e")[i]).alias(f"c{i}") for i in range(dim)],
                )
                .collect()
            }
            new_cents, max_shift, inertia = [], 0.0, 0.0
            for cell, old in enumerate(cents):
                r = rows.get(cell)
                if r is None:  # empty cell: centroid stays put
                    new_cents.append(old)
                    continue
                nc = [float(r[f"c{i}"]) for i in range(dim)]
                new_cents.append(nc)
                shift = sum((x - y) ** 2 for x, y in zip(nc, old)) ** 0.5
                max_shift = max(max_shift, shift)
                inertia += float(r["inertia"])
            history.append({"iter": it, "inertia": inertia, "max_shift": max_shift})
            cents = new_cents
            if max_shift < tol:
                break
        return cents, history
    finally:
        base.unpersist()


def s12_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of cosine k-means over the embedding
    corpus — the training-loop counterpart of s06's assignment-only
    coarse quantizer. Seeds are the first KMEANS_K vectors by vec_id
    (deterministic k-means++ stand-in); the step assigns every vector
    to its nearest seed, recomputes per-cell mean centroids, and
    reports per cell: size, mean cosine distance to the seed
    (inertia), and how far the centroid moved (the convergence
    signal a driver loop would threshold on).

    Scale shape: the model is k·dim doubles — it rides to executors
    in the closure of kmeans_assign's per-batch argmax, so assignment
    costs zero joins and zero shuffles; the update is one map-combined
    aggregation producing k×dim partial sums. A full k-means run is this step iterated
    driver-side, each round broadcasting the k-row model — the
    corpus is never shuffled on anything but the final k-row rollup.
    Seeds collect() is k rows by contract (driver-sized, like s06's
    10-row centroid pull).

    Determinism: seeds are rounded to 6dp BEFORE unit-scaling so
    Spark and the DuckDB oracle rank identical inputs; assignment ties
    break toward the smaller cell; outputs rounded to 6dp (sum-order
    noise ~1e-13).
    """
    # Seeds come from the RAW table so the vec_id filter pushes down
    # to the parquet scan — collecting through _with_norm would pay
    # its corpus-wide repartition + norm just to fetch k rows (the
    # same seam as s06's dimension probe). float32 → python float →
    # round(6) equals the double-cast-then-round both engines use.
    raw = load_table(spark, sf_dir, "embeddings")
    seed_rows = sorted(
        (r["vec_id"], [round(float(x), 6) for x in r["embedding"]])
        for r in raw.filter(F.col("vec_id") < KMEANS_K)
        .select("vec_id", "embedding")
        .collect()
    )
    emb = _with_norm(raw)
    if not seed_rows:
        return spark.createDataFrame(
            [], "cell long, n_members long, inertia double, centroid_shift double"
        )
    seeds = [v for _, v in seed_rows]
    dim = len(seeds[0])
    # cell + the cosine to the chosen seed from one argmax pass
    assigned = kmeans_assign(emb, seeds)
    new_cent = F.array(*[F.round(F.avg(F.col("e")[i]), 6) for i in range(dim)])
    shift = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("centroid"),
                F.element_at(F.lit(seeds), (F.col("cell") + 1).cast("int")),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg(F.lit(1.0) - F.col("ccos")), 6).alias("inertia"),
            new_cent.alias("centroid"),
        )
        .select(
            "cell", "n_members", "inertia", F.round(shift, 6).alias("centroid_shift")
        )
        .orderBy("cell")
    )


ORACLE["s12_kmeans_step"] = f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), seeds AS (
  SELECT vec_id AS cell,
         list_transform(v, x -> round(x, 6)) AS sv
  FROM n WHERE vec_id < {KMEANS_K}
), s2 AS (
  SELECT cell, sv, sqrt(list_dot_product(sv, sv)) AS sn FROM seeds
), scored AS (
  SELECT n.vec_id, n.v, s2.cell,
         list_dot_product(n.v, s2.sv) / (n.nrm * s2.sn) AS ccos
  FROM n CROSS JOIN s2
), assigned AS (
  SELECT vec_id, v, cell, ccos
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
        FROM scored)
  WHERE rn = 1
), pos AS (
  SELECT cell, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x
  FROM assigned
), cent_dims AS (
  SELECT cell, dim, round(avg(x), 6) AS c FROM pos GROUP BY cell, dim
), cent AS (
  SELECT cell, list(c ORDER BY dim) AS cv FROM cent_dims GROUP BY cell
), stats AS (
  SELECT cell, count(*) AS n_members, round(avg(1.0 - ccos), 6) AS inertia
  FROM assigned GROUP BY cell
)
SELECT s.cell, s.n_members, s.inertia,
       round(sqrt(list_sum(list_transform(
         list_zip(cent.cv, s2.sv),
         p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS centroid_shift
FROM stats s
JOIN cent USING (cell)
JOIN s2 USING (cell)
ORDER BY s.cell
"""

QUERIES["s12_kmeans_step"] = s12_kmeans_step


# ---------------------------------------------------------------------------
# SemDeDup (s15 draft — library-only until the registration queue
# allows, the d36/d37 protocol; REGISTRY.md). Abbas et al. 2023
# ("SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication") — the embedding-space dedup stage BETWEEN exact/
# near-dup text matching (d05/d07/d32: same or almost-same bytes) and
# topical balancing (d19): semantically redundant documents whose
# surface forms share nothing. The published algorithm: k-means the
# embeddings, and WITHIN each cluster prune every item that is
# tau-cosine-close to an item kept before it, keeping the items
# LEAST similar to their centroid (the paper's keep-outliers
# finding). Cluster-scoping is what makes it tractable: pairwise
# similarity runs inside cells of corpus/K items, never across the
# full n^2 space — the IVF idea applied to dedup instead of search.
#
# Scale shape: cell assignment and centroid similarity are one Arrow
# pass per batch (zero shuffles); the per-cell rank is one window
# whose partition count is NLIST (production K is thousands — LAION
# SemDeDup used 11k clusters — so cells stay bounded and no partition
# is hot); the within-cell pairs are one blockwise A·Aᵀ per cell, no
# pair join. A production run swaps the formula centroids for
# kmeans_fit(s12) output — the plan shape is identical (the s13/s14
# fixed-model protocol makes the draft oracle-certifiable).

S15_NLIST = 4
S15_TAU = PAIR_THRESHOLD  # one corpus-wide near-dup threshold (s02's)


def s15_centroids() -> list[list[float]]:
    """Coarse centroids[S15_NLIST][64] from a deterministic integer
    formula (quarter-valued, exactly representable — the s14
    convention, different constants so the two models stay
    independent). On this corpus the four cells are balanced
    (102-152 members of 500 at sf0.01)."""
    return [
        [((((c + 3) * (d + 5)) % 11) - 5) / 4.0 for d in range(64)]
        for c in range(S15_NLIST)
    ]


def _semdedup_ranked(vectors: DataFrame, cents: list[list[float]]) -> DataFrame:
    """The SemDeDup assignment pass: (vec_id, e, nrm, cell, csim, rk)
    with the keep-outliers rank (csim ASC, vec_id ASC) per cell. The
    assignment math is one Arrow mapInPandas pass (E·Cᵀ): centroids
    are unit-scaled driver-side (_unit_scaled), np.argmax's first-max
    breaks ties toward the smaller cell, and csim = dot(e, c_unit)/|e|
    rounded 6dp by the Spark-equivalent HALF_UP
    (_make_round6_half_up — np.round's half-to-even differs from
    F.round at 6dp half-boundaries). Zero-norm rows emit NULL csim
    (the JVM's non-ANSI x/0), which the rank window sorts first."""
    cu = _unit_scaled(cents)
    r6 = _make_round6_half_up()

    def assign_batches(batches):
        # self-contained: executors don't import this package (r6 is
        # a nested function, cloudpickled by value)
        import numpy as np
        import pandas as pd

        Cu = np.asarray(cu, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            nrm = np.sqrt(np.einsum("ij,ij->i", E, E))
            S = E @ Cu.T
            cell = S.argmax(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                csim = r6(S[np.arange(len(E)), cell] / nrm)
            out = pd.DataFrame(
                {"vec_id": pdf["vec_id"], "e": list(E), "nrm": nrm,
                 "cell": cell.astype("int32"), "csim": csim}
            )
            if (nrm == 0).any():
                # JVM: x/0 is NULL under non-ANSI SQL — mirror it so
                # the downstream rank window sorts these rows the same
                out["csim"] = out["csim"].astype(object).where(nrm != 0, None)
            yield out

    spark = vectors.sparkSession
    prep = vectors.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).select("vec_id", "embedding")
    assigned = prep.mapInPandas(
        assign_batches,
        "vec_id long, e array<double>, nrm double, cell int, csim double",
    )
    return assigned.withColumn(
        "rk", F.row_number().over(W.partitionBy("cell").orderBy("csim", "vec_id"))
    )


def semdedup(
    vectors: DataFrame,
    centroids: list[list[float]] | None = None,
    tau: float = S15_TAU,
    block: int = 4096,
) -> DataFrame:
    """SemDeDup keep/prune decisions: (vec_id, cell, csim, keep).

    Within each cell, items rank by (round(csim, 6) ASC, vec_id ASC) —
    centroid-similarity ascending, so the survivor of a duplicate set
    is the item FARTHEST from the centroid, the paper's keep-outliers
    policy — and an item is pruned iff some earlier-ranked cellmate
    has round(cos, 6) >= tau with it. Both ranking key and threshold
    compare 6dp-rounded values, so the decision boundary carries no
    float risk beyond the rounding the s01/s02 rows already certify.
    Survivor invariant: no two kept items in one cell are tau-close
    (earlier survivors are a subset of earlier items).

    The pair phase runs per cell as blockwise A·Aᵀ inside one
    applyInPandas pass: each cell's n_c·d matrix ships ONCE over Arrow
    and BLAS does the n_c²·d multiply-adds. The prune recurrence is
    join-free — prune[i] depends on ALL earlier-ranked rows, not on
    their prune bits — so it vectorizes as a triangular any(), and
    groupBy(cell) is the only shuffle after the rank window.

    Worker memory is O(n_c·d + block·n_c) per cell — bounded by the K
    sizing that already governs the pair budget (hold n_c ≈ 10³ at any
    corpus size); `block` caps the rows per slab, and adapts down for
    an accidentally hot cell. The cosines round 6dp by the
    Spark-equivalent HALF_UP, so the τ comparison sees the values
    F.round would give; BLAS sums in a different order than a
    left-to-right fold, so only a dot within an ulp of a 6dp boundary
    could differ from the DuckDB oracle's."""
    ranked = _semdedup_ranked(vectors, centroids or s15_centroids())
    out_schema = "vec_id long, cell int, csim double, keep boolean"
    _tau, _block = float(tau), int(block)
    r6 = _make_round6_half_up()

    def prune_cell(pdf):
        # self-contained: executors don't import this package (r6 is
        # a nested function, cloudpickled by value)
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("rk").reset_index(drop=True)
        # a NULL csim (zero-norm row) arrives as NaN through Arrow's
        # float64 conversion; restore None on the way out (NaN is the
        # only in-band value a NULL can alias to — cosines are finite)
        if pdf["csim"].isna().any():
            pdf["csim"] = (
                pdf["csim"].astype(object).where(pdf["csim"].notna(), None)
            )
        n = len(pdf)
        if n <= 1:
            return pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": pdf["cell"],
                 "csim": pdf["csim"], "keep": [True] * n}
            )
        E = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["e"]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        pruned = np.zeros(n, dtype=bool)
        # adapt the block so the S slab stays ~80 MB even on a cell
        # the K sizing failed to bound
        b = max(1, min(_block, 10_000_000 // n))
        for s in range(1, n, b):
            hi = min(s + b, n)
            S = E[s:hi] @ E[:hi].T
            # Spark-equivalent HALF_UP so the τ comparison sees the
            # cosines F.round would give; zero-norm rows yield NaN
            # here and NaN >= τ is False — a NULL cosine never prunes.
            with np.errstate(divide="ignore", invalid="ignore"):
                C = r6(S / (nrm[s:hi, None] * nrm[None, :hi]))
            lower = np.arange(hi)[None, :] < np.arange(s, hi)[:, None]
            pruned[s:hi] = ((C >= _tau) & lower).any(axis=1)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cell": pdf["cell"],
             "csim": pdf["csim"], "keep": ~pruned}
        )

    return ranked.groupBy("cell").applyInPandas(prune_cell, out_schema)


def s15_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s15 registry form (NOT registered until the window allows —
    REGISTRY.md): SemDeDup keep/prune decisions over the embeddings
    table under the fixed formula centroids."""
    return semdedup(load_table(spark, sf_dir, "embeddings")).orderBy("vec_id")


def _s15_oracle_sql() -> str:
    """DuckDB replay generated from the SAME Python centroid values
    (repr round-trip — the s14 generator pattern). Assignment ties
    break to the lower cell id on both sides; ranking and the tau
    comparison run on the 6dp-rounded values both engines agree on."""
    cents = s15_centroids()
    vals = ", ".join(
        f"({c}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[], "
        f"{sum(x * x for x in cv) ** 0.5!r})"
        for c, cv in enumerate(cents)
    )
    return f"""
WITH cents(cell, cv, cn) AS (VALUES {vals}),
n AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), scored AS (
  SELECT n.vec_id, n.e, n.nrm, c.cell,
         list_dot_product(n.e, c.cv) / (n.nrm * c.cn) AS ccos
  FROM n CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, e, nrm, CAST(cell AS INTEGER) AS cell, round(ccos, 6) AS csim
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
        FROM scored)
  WHERE rn = 1
), ranked AS (
  SELECT vec_id, e, nrm, cell, csim,
         row_number() OVER (PARTITION BY cell ORDER BY csim, vec_id) AS rk
  FROM assigned
), pruned AS (
  SELECT DISTINCT b.vec_id
  FROM ranked a JOIN ranked b ON a.cell = b.cell AND a.rk < b.rk
  WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= {S15_TAU!r}
)
SELECT r.vec_id, r.cell, r.csim, (p.vec_id IS NULL) AS keep
FROM ranked r LEFT JOIN pruned p ON r.vec_id = p.vec_id
ORDER BY r.vec_id
"""


S15_ORACLE_DRAFT = _s15_oracle_sql()
