"""kmeans_assign / kmeans_fit — the Arrow assignment engine and the
Lloyd loop it drives, held to a plain numpy Lloyd loop.

Pins: (1) one assignment round equals numpy's argmax (cells exact,
ccos to 1e-9); (2) a full kmeans_fit run equals the numpy loop (same
history length, final centroids within 1e-6, same final cells);
(3) a zero-norm row gets NULL ccos; (4) the per-round driver collect
stays k rows."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from indexr_spark.operators.similarity import (
    _as_double,
    _dot,
    kmeans_assign,
    kmeans_fit,
)
from tests.conftest import SMOKE_SF


def _normed(spark):
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    e = _as_double(F.col("embedding"))
    return emb.select(
        "vec_id", e.alias("e"), F.sqrt(_dot(e, e)).alias("nrm")
    )


def _seed_cents(spark, k=8):
    base = _normed(spark)
    return [
        [round(float(x), 6) for x in r["e"]]
        for r in base.orderBy("vec_id").limit(k).collect()
    ]


def _corpus(spark):
    rows = _normed(spark).orderBy("vec_id").collect()
    return (
        np.array([r["vec_id"] for r in rows]),
        np.array([r["e"] for r in rows], dtype=np.float64),
    )


def _np_assign(X, cents):
    """Cosine argmax (ties → lower cell) and the cosine achieved."""
    C = np.asarray(cents, dtype=np.float64)
    cos = (X @ C.T) / np.outer(np.linalg.norm(X, axis=1), np.linalg.norm(C, axis=1))
    cell = cos.argmax(axis=1)
    return cell, cos[np.arange(len(X)), cell]


def _np_lloyd(X, cents, max_iters, tol):
    """kmeans_fit's loop in numpy: assign, mean-update (an empty cell
    keeps its centroid), stop once the largest shift is under tol.
    Returns the final centroids and the number of rounds run."""
    cents = np.asarray(cents, dtype=np.float64)
    for n_rounds in range(1, max_iters + 1):
        cell, _cos = _np_assign(X, cents)
        new = cents.copy()
        for c in range(len(cents)):
            if (cell == c).any():
                new[c] = X[cell == c].mean(axis=0)
        shift = np.linalg.norm(new - cents, axis=1).max()
        cents = new
        if shift < tol:
            break
    return cents, n_rounds


def test_single_round_assignment_equality(spark):
    base = _normed(spark).localCheckpoint()
    cents = _seed_cents(spark)
    ids, X = _corpus(spark)
    cell, cos = _np_assign(X, cents)
    got = {r["vec_id"]: (r["cell"], r["ccos"])
           for r in kmeans_assign(base, cents).collect()}
    assert {k: c for k, (c, _) in got.items()} == dict(
        zip(ids.tolist(), cell.tolist())
    )
    for vid, x in zip(ids.tolist(), cos.tolist()):
        assert abs(got[vid][1] - x) < 1e-9, vid
    assert len(set(cell.tolist())) > 1, "degenerate assignment"


def test_full_fit_converges_to_same_model(spark):
    emb = spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")
    cents, hist = kmeans_fit(emb, k=8, max_iters=5)
    ids, X = _corpus(spark)
    ref, n_rounds = _np_lloyd(X, _seed_cents(spark), max_iters=5, tol=1e-4)
    assert len(hist) == n_rounds
    assert np.abs(np.asarray(cents) - ref).max() < 1e-6
    # the final centroids assign every vector to the same cell
    base = _normed(spark)
    got = {r["vec_id"]: r["cell"] for r in kmeans_assign(base, cents).collect()}
    want, _ = _np_assign(X, ref)
    assert got == dict(zip(ids.tolist(), want.tolist()))


def test_zero_norm_row_matches_literal_null(spark):
    """A zero-norm embedding yields NULL ccos (the JVM's non-ANSI x/0,
    not numpy's inf/NaN), so downstream aggregates skip the row; the
    other rows get their true cosine."""
    rows = [(0, [0.0] * 8, 0.0), (1, [1.0] * 8, math.sqrt(8.0)),
            (2, [2.0] * 8, math.sqrt(32.0))]
    base = spark.createDataFrame(
        rows, "vec_id long, e array<double>, nrm double"
    )
    cents = [[1.0] * 8, [-1.0] * 8]
    got = {r["vec_id"]: (r["cell"], r["ccos"])
           for r in kmeans_assign(base, cents).collect()}
    assert got[0][1] is None
    assert {k: (c, round(x, 9)) for k, (c, x) in got.items() if k} == {
        1: (0, 1.0), 2: (0, 1.0)
    }


def test_round_state_collect_is_k_rows(spark):
    """The kmeans_fit docstring's driver bound, asserted: the only
    per-round collect is the k-row (cell, n, inertia, c0..cd-1)
    aggregate — k·d doubles of driver state, never corpus-sized."""
    base = _normed(spark).localCheckpoint()
    k = 8
    cents = _seed_cents(spark, k=k)
    dim = len(cents[0])
    a = kmeans_assign(base, cents)
    agg = a.groupBy("cell").agg(
        F.count("*").alias("n"),
        F.sum(F.lit(1.0) - F.col("ccos")).alias("inertia"),
        *[F.avg(F.col("e")[i]).alias(f"c{i}") for i in range(dim)],
    )
    rows = agg.collect()
    assert 0 < len(rows) <= k
