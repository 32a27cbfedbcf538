"""Streaming ANN ingest — embeddings stream into an LSH-bucketed store.

The batch ANN path (operators/similarity.s04) assigns each vector a
random-hyperplane bucket with an in-row fold against literal plane
arrays. This module runs the SAME assignment inside a Structured
Streaming pipeline and lands vectors in a `bucket=<id>`-partitioned
parquet store via Spark's exactly-once streaming file sink. Probes
then read one partition directory per probed bucket — at 100 TB the
store is the ANN index: ingest is narrow (zero shuffles, the bucket
is computed in the scan stage), and every query prunes to ~n/2^planes
vectors via ordinary partition pruning, no index server involved.
`ann_probe` is the IVF store's probe (sources/vector_store) with
buckets in place of cells: the query side and the bucket set are
derived in-row, and the one collect is the distinct probed buckets
(≤ 2^planes values) for the static `bucket=` filter.

Beyond-reference superset: the reference streams rows into sorted
segments (rt/ subsystem); it has no vector/ANN surface at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from indexr_spark.operators.similarity import _dot, _lit_array, _plane_weights


def bucket_expr(embedding: Column) -> Column:
    """LSH bucket id for an embedding column: sign bits of the plane
    dot products, folded in-row against literal plane weights (same
    planes as the batch s04 operator, so stream- and batch-ingested
    vectors land in identical buckets)."""
    e = embedding.cast("array<double>")
    bucket = F.lit(0).cast("long")
    for p, w in enumerate(_plane_weights()):
        dot = _dot(e, _lit_array(w))
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def start_ann_ingest(
    vectors: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Attach bucket assignment to a streaming DataFrame of
    (vec_id, embedding, ...) rows and write the bucket-partitioned
    store. Uses the native streaming parquet sink — exactly-once via
    the sink's _spark_metadata commit log + source checkpoints."""
    bucketed = vectors.withColumn("bucket", bucket_expr(F.col("embedding")))
    writer = (
        bucketed.writeStream.format("parquet")
        .option("path", store_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("bucket")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _probe_buckets_expr(embedding: Column, flips: int) -> Column:
    """Array of probe buckets for multiprobe LSH: the exact
    sign-bucket first, then its Hamming-1 neighbors for the `flips`
    planes with the smallest |dot| margin — the planes most likely to
    have separated a true neighbor from the query. The classic
    multiprobe recall dial: probing F extra buckets recovers most of
    what a single-bucket probe misses at the cost of scanning
    (1+F)/2^planes of the store instead of 1/2^planes, with NO
    rebuild of the store. All in-row (one _dots_2d fold + an
    array_sort over ANN_PLANES structs), so deriving the probe set
    never shuffles."""
    from indexr_spark.operators.similarity import ANN_PLANES, _dots_2d

    e = embedding.cast("array<double>")
    exact = bucket_expr(embedding)
    if flips <= 0:
        return F.array(exact)
    dots = _dots_2d(e, _plane_weights())
    bits = F.lit([1 << p for p in range(ANN_PLANES)])
    margins = F.zip_with(
        dots,
        bits,
        lambda d, b: F.struct(F.abs(d).alias("m"), b.cast("long").alias("b")),
    )
    nearest = F.slice(F.array_sort(margins), 1, min(flips, ANN_PLANES))
    alts = F.transform(nearest, lambda s: exact.bitwiseXOR(s["b"]))
    return F.concat(F.array(exact), alts)


def ann_probe(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 3,
    flips: int = 0,
) -> DataFrame:
    """Top-k cosine neighbours for each query vector, scanning ONLY
    the store partitions of the probed buckets. `queries` needs
    (q_id, embedding). Each query's buckets are derived in-row by the
    same `bucket_expr` the ingest uses; `flips` enables multiprobe:
    each query also probes the Hamming-1 buckets of its `flips`
    nearest planes (see _probe_buckets_expr) — the recall dial that
    needs no store rebuild. One exploded probe row per (query, bucket)
    joins the store the way the IVF probe joins cells; a store vector
    lives in exactly one bucket, so a (q_id, vec_id) pair never
    appears twice."""
    from indexr_spark.sources.vector_store import _probe_topk, _query_side

    probes = _query_side(queries).withColumn(
        "bucket", F.explode(_probe_buckets_expr(F.col("qe"), flips))
    )
    return _probe_topk(spark, store_dir, probes, "bucket", k)
