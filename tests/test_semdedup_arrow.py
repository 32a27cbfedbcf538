"""semdedup — SemDeDup with Arrow assignment and a cell-local BLAS
pair phase.

The pin that matters: REFERENCE EQUALITY. The decision frame
(vec_id, cell, csim, keep) must equal the plain numpy replay
(tests/semdedup_ref.py) row for row on the smoke and oracle corpora,
including a tiny-block run that forces the blockwise path to cross
block boundaries (the triangular mask's off-by-one habitat).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from indexr_spark.operators.similarity import S15_TAU, s15_centroids, semdedup
from tests.conftest import ORACLE_SF, SMOKE_SF
from tests.semdedup_ref import semdedup_reference


def _vecs(spark, sf):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _frame(df):
    return {
        r["vec_id"]: (r["cell"], round(r["csim"], 6), r["keep"])
        for r in df.collect()
    }


def _reference(v, cents=None):
    rows = v.orderBy("vec_id").collect()
    return semdedup_reference(
        [r["vec_id"] for r in rows],
        [r["embedding"] for r in rows],
        cents or s15_centroids(),
        S15_TAU,
    )


def test_engines_agree_smoke(spark):
    """semdedup equals the numpy replay on the smoke corpus."""
    v = _vecs(spark, SMOKE_SF)
    assert _frame(semdedup(v)) == _reference(v)


def test_engines_agree_oracle_sf(spark):
    """semdedup equals the numpy replay on the oracle corpus, and the
    decision is not vacuous there."""
    v = _vecs(spark, ORACLE_SF)
    got = _frame(semdedup(v))
    assert got == _reference(v)
    kept = sum(1 for _, _, k in got.values() if k)
    assert 0 < kept < len(got), "dedup should prune some but not all"


def test_blockwise_crosses_boundaries(spark):
    """block=2 forces many slabs per cell; output must not change."""
    v = _vecs(spark, SMOKE_SF)
    assert _frame(semdedup(v, block=2)) == _reference(v)


def test_single_vector_cells_all_keep(spark):
    rows = [(i, [float(i + 1)] * 8) for i in range(3)]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # 3 distinct centroids; all three vectors share one DIRECTION, so
    # they land in one cell and only the first-ranked survives, while
    # the two empty cells never reach the pair phase
    cents = [[1.0] * 8, [-1.0] * 8, [0.5] * 8]
    got = {r["vec_id"]: r["keep"] for r in semdedup(v, centroids=cents).collect()}
    assert got == {k: keep for k, (_, _, keep) in _reference(v, cents).items()}
    assert sorted(got.values()) == [False, False, True]
    # a lone vector in its cell takes the per-cell n <= 1 early path
    one = spark.createDataFrame([(7, [1.0] * 8)], "vec_id long, embedding array<float>")
    assert [tuple(r) for r in semdedup(one, centroids=cents).collect()] == [
        (7, 0, 1.0, True)
    ]


def test_no_join_in_arrow_plan(spark):
    """The engine's point: groupBy(cell)+applyInPandas, no pair join."""
    v = _vecs(spark, SMOKE_SF)
    plan = semdedup(v)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    # exactly the rank window's exchange feeds the group — no
    # join-side exchanges for candidate pairs
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def _round6_consumers():
    """Every site that binds the shared HALF_UP factory (r12: hoisted
    to functions/compat.py, the r11 verdict's task 6). The battery
    below runs per consumer import path so a future local fork of the
    rounding — the exact drift the hoist exists to prevent — fails
    here by name."""
    from indexr_spark.functions import compat
    from indexr_spark.operators import similarity

    return {
        "functions.compat.make_round6_half_up": compat.make_round6_half_up,
        "operators.similarity._make_round6_half_up": similarity._make_round6_half_up,
    }


def test_round6_consumers_share_one_factory():
    """similarity's historical name must BE the compat factory (not a
    copy), and no numpy rounding fork may survive anywhere in the
    package: np.round mirroring a certified plan's F.round was the
    r10 ADVICE bug class, closed repo-wide in r12."""
    import re
    from pathlib import Path

    from indexr_spark.functions import compat

    c = _round6_consumers()
    assert all(f is compat.make_round6_half_up for f in c.values())
    pkg = Path(compat.__file__).resolve().parent.parent
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"np\.round\(", line)
    ]
    assert not offenders, f"np.round survives in package source: {offenders}"


@pytest.mark.parametrize("consumer", sorted(_round6_consumers()))
def test_round6_half_up_matches_spark_f_round(spark, consumer):
    """The r10 ADVICE finding, pinned: Spark's F.round(x, 6) is
    HALF_UP over the double's shortest decimal repr, np.round is
    binary half-to-even — they genuinely differ at 6dp
    half-boundaries. The shared factory must match Spark on an
    explicit boundary battery (including the 0.1234565 exemplar where
    np.round provably disagrees) plus a dense off-boundary sweep —
    parameterized over every consumer import path (r12)."""
    import numpy as np

    r6 = _round6_consumers()[consumer]()
    battery = [
        0.1234565, -0.1234565, 0.9999995, -0.9999995, 0.7499995,
        0.1234564999, 0.1234565001, 2.5e-7, -2.5e-7, 1.5e-6,
        0.123456, 1.0, 0.0, -1.0, 0.5, -0.5000005, 0.33333335,
    ]
    # dense sweep: values with >6 decimals scattered off boundaries
    rng = np.random.default_rng(7)
    battery += [float(x) for x in rng.uniform(-1, 1, 500)]
    rows = [(i, float(v)) for i, v in enumerate(battery)]
    df = spark.createDataFrame(rows, "i long, x double")
    want = {
        r["i"]: r["y"]
        for r in df.select("i", F.round("x", 6).alias("y")).collect()
    }
    got = r6(np.array(battery, dtype=np.float64))
    for i, v in enumerate(battery):
        assert got[i] == want[i], (i, v, got[i], want[i])
    # and the exemplar really is a np.round divergence (else the
    # battery stopped testing anything)
    assert float(np.round(np.float64(0.1234565), 6)) != want[0]
    # NaN passes through (zero-norm rows are handled upstream as NULL)
    assert np.isnan(r6(np.array([float("nan")]))[0])


def test_round6_half_up_large_magnitude_boundaries(spark):
    """The r12 ADVICE finding, pinned: the suspect band that routes
    half-boundary doubles to the Decimal fallback was fixed at 1e-6,
    but the absolute error of scaled = |x|*1e6 grows with magnitude —
    at |x| >= ~6.6e4 boundary doubles started rounding DOWN where
    Spark's HALF_UP rounds up (66531.8903225 → .890322 vs .890323).
    The band now scales as max(1e-6, scaled*4*2**-52); this battery
    sweeps exact half-boundary decimals across nine integer-digit
    decades (1 to 9 digits, both signs) and must match F.round
    element-for-element. It also proves the old fixed band would
    still fail here, so the battery keeps testing the fix."""
    import numpy as np

    from indexr_spark.functions import compat

    rng = np.random.default_rng(12)
    battery = [66531.8903225, -66531.8903225]
    for digits in range(1, 10):
        lo, hi = 10 ** (digits - 1), 10**digits
        for i, f, s in zip(
            rng.integers(lo, hi, 60),
            rng.integers(0, 10**6, 60),
            rng.integers(0, 2, 60),
        ):
            battery.append(float(f"{'-' if s else ''}{i}.{f:06d}5"))
    rows = [(i, float(v)) for i, v in enumerate(battery)]
    df = spark.createDataFrame(rows, "i long, x double")
    want = {
        r["i"]: r["y"]
        for r in df.select("i", F.round("x", 6).alias("y")).collect()
    }
    arr = np.array(battery, dtype=np.float64)
    got = compat.make_round6_half_up()(arr)
    for i, v in enumerate(battery):
        assert got[i] == want[i], (i, v, got[i], want[i])
    # the r12 fixed-band fast path (floor(scaled)+1 iff frac>=0.5,
    # Decimal only within 1e-6 of 0.5) must disagree somewhere in
    # this battery, or the sweep stopped covering the bug class
    scaled = np.abs(arr) * 1e6
    frac = scaled - np.floor(scaled)
    fast = np.copysign(
        np.where(frac >= 0.5, np.floor(scaled) + 1.0, np.floor(scaled)), arr
    ) / 1e6
    old_suspect = np.abs(frac - 0.5) < 1e-6
    old = np.where(old_suspect, got, fast)
    diverged = [i for i in range(len(battery)) if old[i] != want[i]]
    assert diverged, "battery no longer exercises the magnitude bug class"


def test_zero_norm_vector_engines_agree(spark):
    """A zero-norm embedding gets NULL csim (the JVM's non-ANSI x/0 —
    not numpy's inf/NaN), sorts first in its cell's rank, and never
    prunes or is pruned (a NULL cosine fails >= tau); the non-zero
    rows decide exactly as the numpy replay."""
    rows = [(0, [0.0] * 8), (1, [1.0] * 8), (2, [1.0] * 8),
            (3, [-1.0] * 8)]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0] * 8, [-1.0] * 8]
    got = {
        r["vec_id"]: (r["cell"], r["csim"], r["keep"])
        for r in semdedup(v, centroids=cents).collect()
    }
    assert got[0] == (0, None, True), "zero-norm csim must be NULL, not NaN/inf"
    assert {k: x for k, x in got.items() if k} == _reference(
        v.filter(F.col("vec_id") > 0), cents
    )
