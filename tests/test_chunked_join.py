"""Property pins for functions/joins.chunked_self_join and
first_match_band — the pairing contract (each unordered pair of
same-key rows EXACTLY once, oriented by the order column, no
self-pairs) that every banded near-dup producer relies on. A
first-attempt variant of the same construction silently dropped pairs
under version races in snapshots (different module, same class of
subtle-join bug) — hence exhaustive checks against plain-Python
references rather than example tests."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from indexr_spark.functions.joins import chunked_self_join, first_match_band


def _pairs_via_chunked(spark, rows, C):
    df = spark.createDataFrame(rows, "k int, oid long")
    j = chunked_self_join(df, key_cols=["k"], order_col="oid", n_chunks=C)
    out = j.select(F.col("a.oid").alias("lo"), F.col("b.oid").alias("hi")).collect()
    return Counter((r.lo, r.hi) for r in out)


def _expected_pairs(rows):
    by_key: dict[int, list[int]] = {}
    for k, oid in rows:
        by_key.setdefault(k, []).append(oid)
    exp = Counter()
    for oids in by_key.values():
        s = sorted(oids)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                exp[(s[i], s[j])] += 1
    return exp


def test_every_unordered_pair_exactly_once_across_chunk_counts(spark):
    """Sweep chunk counts (1, 2, 3, 7, 32) over a dataset with skewed
    keys (one bucket of 12, one of 3, singletons, an empty-key gap):
    the chunked join must emit exactly the same ORIENTED pair multiset
    as the plain O(k^2) construction, for every C."""
    rows = (
        [(1, i) for i in range(12)]
        + [(2, 100 + i) for i in range(3)]
        + [(3, 200)]
        + [(5, 500), (5, 501)]
    )
    exp = _expected_pairs(rows)
    for C in (1, 2, 3, 7, 32):
        got = _pairs_via_chunked(spark, rows, C)
        assert got == exp, (C, got - exp, exp - got)


def test_duplicate_order_values_do_not_pair_with_self(spark):
    """order_col must be unique per key group by contract; rows in
    DIFFERENT key groups may share order values without cross-talk."""
    rows = [(1, 7), (2, 7), (1, 8)]
    got = _pairs_via_chunked(spark, rows, 4)
    assert got == Counter({(7, 8): 1})


def test_banded_first_match_matches_python_reference(spark):
    """The banded-join contract both kernels serve together: docs carry
    a per-band signature array, the chunked join keys on (band, sig),
    and first_match_band keeps the row of the lowest agreeing band.
    Against a plain-Python reference over random keys, for bands 1-4
    and C in {1, 3, 8}: every pair that agrees in some band appears
    exactly once, oriented by `oid`, from its lowest agreeing band.
    The other columns ride the swap with their row (`tag` = oid * 10)."""
    rng = random.Random(7)
    for bands in (1, 2, 3, 4):
        docs = [
            (oid, [rng.randrange(3) for _ in range(bands)])
            for oid in rng.sample(range(1000), 40)
        ]
        rows = [
            (oid, oid * 10, b, sigs[b], sigs)
            for oid, sigs in docs
            for b in range(bands)
        ]
        exp = {}
        for x_oid, x in docs:
            for y_oid, y in docs:
                agree = [b for b in range(bands) if x[b] == y[b]]
                if x_oid < y_oid and agree:
                    exp[(x_oid, y_oid)] = agree[0]
        df = spark.createDataFrame(
            rows, "oid long, tag long, band int, sig int, sigs array<int>"
        )
        for C in (1, 3, 8):
            j = chunked_self_join(df, ["band", "sig"], order_col="oid", n_chunks=C)
            first = first_match_band(
                "a.band", bands, lambda b: F.col("a.sigs")[b] == F.col("b.sigs")[b]
            )
            out = j.filter(first).select(
                F.col("a.oid").alias("lo"),
                F.col("b.oid").alias("hi"),
                F.col("a.tag").alias("lo_tag"),
                F.col("b.tag").alias("hi_tag"),
                F.col("a.band").alias("band"),
                F.col("b.band").alias("b_band"),
            ).collect()
            got = Counter((r.lo, r.hi) for r in out)
            assert all(n == 1 for n in got.values()), (bands, C, got)
            assert set(got) == set(exp), (bands, C, set(got) ^ set(exp))
            for r in out:
                assert r.lo < r.hi and r.lo_tag == r.lo * 10 and r.hi_tag == r.hi * 10
                assert r.band == r.b_band == exp[(r.lo, r.hi)], (bands, C, r)
