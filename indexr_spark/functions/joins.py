"""Join-shape helpers shared by the bucketed pair-generation operators.

`cap_buckets` is the other half of the bucket story: where the chunk
valve spreads an oversized bucket, the cap EXCLUDES it (see below).

`chunked_self_join` is the quadratic-bucket SKEW valve used by both the
MinHash-LSH candidate join (operators/text._lsh_group_pairs) and the
embedding near-dup bucket join (operators/similarity.d10): a self-join
on a low-cardinality bucket key generates each bucket's k(k-1)/2 pairs
inside ONE task — measured serializing 90% of 5.4M LSH pairs on 4 of
32 cores, and ~312M near-dup pair evaluations on 16 cores (COVERAGE.md
scale spot-runs). Splitting every bucket into C hash chunks and
joining on (bucket, chunk) spreads a bucket's pair generation across
~C tasks.

The pairing invariant (each UNORDERED pair generated exactly once) is
subtle and lives only here:

* the left side replicates each row to its own-chunk-and-up tags
  (`explode(sequence(ca, C-1))` — avg C/2 copies),
* the right side keeps its single chunk,
* a cross-chunk pair {x, y} with cx < cy is generated only as
  (left=x, tag=cy, right=y) — x's tags include cy, y's tags exclude cx,
* a same-chunk pair is generated in both orders and halved by the
  caller-supplied order column,
* self-pairs die on the same-chunk `order <` predicate.

Emission order is NOT normalized (a cross-chunk pair may arrive either
way around); callers restore orientation from their own order column.

Cost model: the left side ships ~C/2 copies of each row through the
join's shuffle, so C multiplies the replicated ROW bytes. For thin
rows (LSH signatures) C = total cores is free; for wide rows
(embedding arrays) pick the smallest C that still yields enough
(bucket x chunk) keys to fill the cluster — parallelism comes from
bucket_count x C, not C alone. At corpus scale the better lever is
keeping buckets small in the first place (more LSH planes / a finer
band scheme); the chunk valve is for the skewed-bucket tail that
sizing cannot promise away.
"""

from __future__ import annotations

import logging
import warnings
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CHUNK_A = "__chunk_a"  # left side's own chunk
CHUNK_B = "__chunk_b"  # joined chunk (left: tag; right: own chunk)


def chunked_self_join(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    chunk_col: str | Column | None = None,
    n_chunks: int | None = None,
    repartition_probe: bool | None = None,
) -> DataFrame:
    """Self-join `df` on `key_cols` emitting each unordered pair of
    distinct rows exactly once, with per-key quadratic generation
    spread over ~`n_chunks` tasks.

    Returns the joined frame with sides aliased `a` and `b` (select
    via `F.col("a.x")` / `F.col("b.x")`). `order_col` must be unique
    per row within a key group (it halves same-chunk pairs and kills
    self-pairs). `chunk_col` defaults to `order_col`; `n_chunks`
    defaults to the session's default parallelism.

    `repartition_probe` shuffles the replicated side onto the exact
    join keys (key_cols + chunk). Pass True when `df` arrives POORLY
    PARTITIONED (e.g. a small parquet scan or a 1-partition
    checkpoint): under a broadcast join nothing else distributes the
    probe, so the valve otherwise degrades to ONE serial task
    (measured on the simhash banded join at sf0.1: 5.4 s serial vs
    1.4 s repartitioned for the same 8.7M candidates). Pass False
    when `df` is already well-partitioned — the exchange is pure
    added cost there, and it compounds in iterative consumers whose
    lineage re-executes the join (measured: d12's connected
    components at 10x regressed 32 s -> 83 s with the exchange forced
    on its already-shuffled checkpointed signatures).

    The default (None) is AUTO: the degenerate case is silent — a
    1-partition probe under a broadcast join produces the right rows,
    just on one core — so when the caller expressed no preference the
    valve checks `df`'s planned partition count and, if it is 1 while
    C > 1, warns and enables the exchange itself. The check compiles
    the physical plan once (no job runs) and is skipped entirely when
    the caller decided (True/False), so iterative callers that
    measured the exchange harmful keep their exact plan.

    AUTO's limits (known, accepted): the probe inspects the PRE-AQE
    plan via `df.rdd.getNumPartitions()`, which (a) pays one physical
    planning pass per call — nontrivial on complex lineages, so hot or
    iterative callers should pass an explicit True/False (d12's CC
    loop does); and (b) can disagree with runtime — an
    AQE-coalesced-to-1 probe is missed, while a planned-1 frame that
    executes distributed is repartitioned unnecessarily (the measured
    ~8% tax on d09's capped path, whose anti-join PLANS as 1 partition
    off a distributed checkpoint — that caller now passes False; see
    text._lsh_group_pairs). The trade stands because the failure AUTO
    exists to catch is a silent 4x serialization, and every measured
    false-positive cost is single-digit percent with a one-argument
    opt-out at the call site.
    """
    spark = df.sparkSession
    C = n_chunks or spark.sparkContext.defaultParallelism
    if repartition_probe is None:
        repartition_probe = C > 1 and df.rdd.getNumPartitions() == 1
        if repartition_probe:
            warnings.warn(
                "chunked_self_join: probe side plans as a SINGLE "
                "partition, which would serialize every pair onto one "
                "core under a broadcast join — auto-enabling "
                "repartition_probe (pass repartition_probe=False to "
                "keep the serial plan)",
                stacklevel=2,
            )
    chunk = F.pmod(
        F.xxhash64(chunk_col if chunk_col is not None else order_col), F.lit(C)
    ).cast("int")
    a = df.withColumn(CHUNK_A, chunk).withColumn(
        CHUNK_B, F.explode(F.sequence(F.col(CHUNK_A), F.lit(C - 1)))
    )
    if repartition_probe:
        a = a.repartition(*key_cols, CHUNK_B)
    a = a.alias("a")
    b = df.withColumn(CHUNK_B, chunk).alias("b")
    same_key = reduce(
        Column.__and__,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols],
    )
    cond = (
        same_key
        & (F.col(f"a.{CHUNK_B}") == F.col(f"b.{CHUNK_B}"))
        & (
            (F.col(f"a.{CHUNK_A}") < F.col(f"b.{CHUNK_B}"))
            | (
                (F.col(f"a.{CHUNK_A}") == F.col(f"b.{CHUNK_B}"))
                & (F.col(f"a.{order_col}") < F.col(f"b.{order_col}"))
            )
        )
    )
    return a.join(b, cond)


def cap_buckets(df: DataFrame, key_cols: list[str], max_bucket: int) -> DataFrame:
    """`df` minus every row whose `key_cols` bucket holds more than
    `max_bucket` rows — the scale valve for pathological corpora, where
    one boilerplate signature bucket of k rows emits k²/2 pairs.

    The drop is never silent: the oversized-bucket count and the
    within-bucket pair estimate are logged as a warning. The census is
    pinned (localCheckpoint) so the anti-join reads it instead of
    re-running the `df`-wide aggregation, and it is broadcast: it is
    small by construction (buckets BIGGER than the cap), while `df`
    is the large side that must not shuffle for this. Two eager actions:
    the census and its one-row summary."""
    over = (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket)
        .localCheckpoint()
    )
    dropped = over.agg(
        F.count("*").alias("buckets"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
    ).collect()[0]
    if not dropped["buckets"]:
        return df
    logging.getLogger(__name__).warning(
        "LSH bucket cap %d: dropping %d oversized buckets "
        "(~%d within-bucket candidate pairs affected)",
        max_bucket,
        dropped["buckets"],
        int(dropped["pairs"]),
    )
    return df.join(F.broadcast(over.select(*key_cols)), key_cols, "left_anti")
