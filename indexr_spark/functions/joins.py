"""Join-shape helpers shared by the bucketed pair-generation operators.

`cap_buckets` is the other half of the bucket story: where the chunk
valve spreads an oversized bucket, the cap EXCLUDES it (see below).

`chunked_self_join` is the quadratic-bucket SKEW valve under every
banded near-dup producer (MinHash-LSH groups, banded SimHash, the
embedding bucket join): a self-join on a low-cardinality bucket key
generates each bucket's k(k-1)/2 pairs inside ONE task. Splitting
every bucket into C hash chunks and joining on (bucket, chunk) spreads
a bucket's pair generation across ~C tasks.

Its contract is ORIENTED, EXACTLY ONCE: each unordered pair of
distinct same-key rows comes out once, as struct columns `a` and `b`
with `a.<order_col> < b.<order_col>`. The pairing invariant behind it
lives only here:

* the left side replicates each row to its own-chunk-and-up tags
  (`explode(sequence(ca, C-1))` — avg C/2 copies),
* the right side keeps its single chunk,
* a cross-chunk pair {x, y} with cx < cy is generated only as
  (left=x, tag=cy, right=y) — x's tags include cy, y's tags exclude cx,
* a same-chunk pair is generated in both orders and halved by the
  order column,
* self-pairs die on the same-chunk `order <` predicate,
* a cross-chunk pair may arrive either way around, so the output
  swaps sides per column where left.order > right.order.

`first_match_band` is the companion predicate for banded joins, where
a pair that agrees in k bands is joined k times: it keeps only the
row of the LOWEST agreeing band, so no dedup shuffle is needed.

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
from collections.abc import Callable
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
    repartition_probe: bool = False,
) -> DataFrame:
    """Self-join `df` on `key_cols`, emitting each unordered pair of
    distinct rows exactly once, with per-key quadratic generation
    spread over ~`n_chunks` tasks.

    Returns two struct columns `a` and `b`, each holding all of `df`'s
    columns, oriented so that `a.<order_col> < b.<order_col>` (select
    via `F.col("a.x")` / `F.col("b.x")`). `order_col` must be unique
    per row within a key group. `chunk_col` defaults to `order_col`;
    `n_chunks` defaults to the session's default parallelism.

    `repartition_probe` shuffles the replicated side onto the exact
    join keys (key_cols + chunk). Pass True when `df` arrives poorly
    partitioned (a small parquet scan, a 1-partition checkpoint):
    under a broadcast join nothing else distributes the probe, so the
    valve would run as ONE serial task. Leave it False when `df` is
    already spread — the exchange is then pure added cost, and it
    compounds in iterative consumers that re-execute the join.
    """
    C = n_chunks or df.sparkSession.sparkContext.defaultParallelism
    chunk = F.pmod(
        F.xxhash64(chunk_col if chunk_col is not None else order_col), F.lit(C)
    ).cast("int")
    left = df.withColumn(CHUNK_A, chunk).withColumn(
        CHUNK_B, F.explode(F.sequence(F.col(CHUNK_A), F.lit(C - 1)))
    )
    if repartition_probe:
        left = left.repartition(*key_cols, CHUNK_B)
    left = left.alias("l")
    right = df.withColumn(CHUNK_B, chunk).alias("r")
    same_key = reduce(
        Column.__and__,
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in key_cols],
    )
    fwd = F.col(f"l.{order_col}") < F.col(f"r.{order_col}")
    cond = (
        same_key
        & (F.col(f"l.{CHUNK_B}") == F.col(f"r.{CHUNK_B}"))
        & (
            (F.col(f"l.{CHUNK_A}") < F.col(f"r.{CHUNK_B}"))
            | ((F.col(f"l.{CHUNK_A}") == F.col(f"r.{CHUNK_B}")) & fwd)
        )
    )

    def side(lo: str, hi: str) -> Column:
        # per-column swap: a caller's `a.x` optimizes down to one CASE
        # over two column references, so unread columns are pruned
        return F.struct(
            *[
                F.when(fwd, F.col(f"{lo}.{c}")).otherwise(F.col(f"{hi}.{c}")).alias(c)
                for c in df.columns
            ]
        )

    return left.join(right, cond).select(
        side("l", "r").alias("a"), side("r", "l").alias("b")
    )


def first_match_band(
    band_col: str, bands: int, agree: Callable[[int], Column]
) -> Column:
    """True iff `band_col` is the lowest band j in [0, `bands`) for
    which `agree(j)` holds — the row filter that leaves a banded join
    with one row per pair. The join key already guarantees agreement
    in the row's own band, so the predicate checks only that every
    lower band disagrees. `agree(j)` receives a Python int: spell it
    with literal indices and shifts so the whole CASE stays in
    whole-stage codegen (a lambda over the band index would run
    interpreted per candidate row)."""
    band = F.col(band_col)
    keep = F.when(band == 0, F.lit(True))
    for b in range(1, bands):
        keep = keep.when(
            band == b, reduce(Column.__and__, [~agree(j) for j in range(b)])
        )
    return keep.otherwise(F.lit(False))


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
