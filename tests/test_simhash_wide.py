"""simhash_frame / simhash_pairs at the certified 32 bits and the
≥10^5-doc 60-bit posture.

Wider hashes exist because 32-bit band values saturate (candidates
Θ(n²·bands/2^width) — COVERAGE.md "simhash100x"); these pins check
every width against references, not against another engine:

1. the banded join reproduces the brute-force all-pairs answer at
   32 and 60 bits (the exhaustive-equality pin d32 carries);
2. the md5-prefix + majority construction matches an independent
   plain-Python reference at 32 and 60 bits (so a regression in
   conv/bit_get/pow expression plumbing cannot hide inside a
   Spark-vs-Spark compare).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from indexr_spark.operators.text import simhash_frame, simhash_pairs
from tests.conftest import SMOKE_SF


def _docs(spark):
    return spark.read.parquet(f"{SMOKE_SF}/documents.parquet").select(
        "doc_id", "text"
    )


@pytest.mark.parametrize("bits", [32, 60])
def test_pairs_match_bruteforce(spark, bits):
    sim = simhash_frame(_docs(spark), bits=bits).localCheckpoint()
    got = {tuple(r) for r in simhash_pairs(sim, bits=bits).collect()}
    a, b = sim.alias("a"), sim.alias("b")
    brute = {
        tuple(r)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute
    assert got, "corpus should contain at least one hamming<=3 pair"


@pytest.mark.parametrize("bits", [32, 60])
def test_wide_frame_matches_python_reference(spark, bits):
    rows = [(0, "alpha beta gamma alpha"), (1, "delta eps"), (2, "zzz")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in simhash_frame(d, bits=bits).collect()}

    def pyhash(tok: str, nhex: int) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:nhex], 16)

    def pysim(text: str) -> int:
        hs = [pyhash(t, bits // 4) for t in set(text.split())]
        v = 0
        for j in range(bits):
            if 2 * sum((h >> j) & 1 for h in hs) >= len(hs):
                v |= 1 << j
        return v

    assert got == {i: pysim(t) for i, t in rows}


def test_payload_phash_wide_matches_python_reference(spark):
    """The Arrow-side wide phash (mm06's decode-pass hash at bits>32)
    against an independent plain-Python replay, plus the default-width
    guarantee that bits=32 is the byte-identical MM06 construction."""
    from indexr_spark.operators.multimodal import MM06_GRAM, payload_phash

    rows = [(0, "the quick brown fox jumps"), (1, "abcd"), (2, "xy")]
    d = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def pyphash(s: str, bits: int) -> int | None:
        grams = {s[i:i + MM06_GRAM] for i in range(len(s) - MM06_GRAM + 1)}
        if not grams:
            return None
        counts = [0] * bits
        for g in grams:
            hv = int(hashlib.md5(g.encode()).hexdigest()[:bits // 4], 16)
            for j in range(bits):
                counts[j] += 1 if (hv >> j) & 1 else -1
        return sum(1 << j for j in range(bits) if counts[j] >= 0)

    for bits in (32, 60):
        got = {r["doc_id"]: r["simhash"]
               for r in payload_phash(d, bits=bits).collect()}
        want = {i: pyphash(t, bits) for i, t in rows if pyphash(t, bits) is not None}
        assert got == want, f"bits={bits}"
    with pytest.raises(ValueError):
        payload_phash(d, bits=61)


def test_wide_pairs_plan_never_cartesian(spark):
    """The banded join must stay keyed on (band, v) at any width —
    the same no-cartesian guarantee the 32-bit path's plan carries."""
    sim = simhash_frame(_docs(spark), bits=60)
    plan = (
        simhash_pairs(sim, bits=60)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_width_validation(spark):
    d = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_frame(d, bits=61)
    with pytest.raises(ValueError):
        simhash_frame(d, bits=0)
    sim = simhash_frame(d, bits=60)
    with pytest.raises(ValueError):
        simhash_pairs(sim, bits=60, max_hamming=3, bands=3)
    with pytest.raises(ValueError):
        simhash_pairs(sim, bits=60, bands=7)


def test_pairs_width_mismatch_raises(spark):
    """r10 ADVICE: feeding a narrower frame than `bits` makes the
    upper bands all-zero — every doc collides there and the candidate
    stream silently goes quadratic. simhash_pairs refuses
    both mismatch directions before any join runs."""
    # a 32-bit frame declared as 60-bit: top bands all-zero
    narrow = simhash_frame(_docs(spark), bits=32)
    with pytest.raises(ValueError, match="top band"):
        simhash_pairs(narrow, bits=60)
    # values exceeding the declared width: banding would drop bits
    wide = spark.createDataFrame(
        [(0, 1 << 40), (1, 5)], "doc_id long, simhash long"
    )
    with pytest.raises(ValueError, match="WIDER"):
        simhash_pairs(wide, bits=32)
    # matched widths still run (the guard must not false-positive on
    # a genuinely spanning frame)
    ok = simhash_frame(_docs(spark), bits=60)
    assert simhash_pairs(ok, bits=60).columns == [
        "a_id", "b_id", "hamming"
    ]


def test_wide_frame_edge_texts(spark):
    """At the certified 32 and the deploy 60 bits: an empty text has
    no tokens, so every bit ties and is set (the all-ones value); a
    NULL text gives 0 (each per-bit vote over a NULL array falls
    through to 0)."""
    edge = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    for bits in (32, 60):
        by_id = dict(tuple(r) for r in simhash_frame(edge, bits=bits).collect())
        assert by_id[2] == (1 << bits) - 1
        assert by_id[3] == 0
        assert 0 <= by_id[1] < 1 << bits
