"""IVF-PQ store (sources/vector_store.build_ivfpq_store + ivfpq_probe):
layout parity with the plain IVF store, the exactness pin (a
full-population shortlist makes ivfpq_probe IDENTICAL to ivf_probe),
the columnar economics (ADC pass never reads the embedding column;
both store scans are pruned to the probed cells), and recall under a
tight shortlist."""

from __future__ import annotations

import pytest

import contextlib
import io
import json
import os

from pyspark.sql import functions as F

from indexr_spark.sources.vector_store import (
    PQ_META_NAME,
    build_ivf_store,
    build_ivfpq_store,
    ivf_probe,
    ivfpq_probe,
)
from tests.conftest import SMOKE_SF


def _emb(spark):
    return spark.read.parquet(f"{SMOKE_SF}/embeddings.parquet")


def _queries(spark, n=3):
    return _emb(spark).filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )


def test_ivfpq_layout_and_cell_parity_with_plain_ivf(spark, tmp_path):
    emb = _emb(spark)
    pq_store = str(tmp_path / "ivfpq")
    ivf_store = str(tmp_path / "ivf")
    centroids, codebooks = build_ivfpq_store(
        spark, emb, pq_store, n_cells=8, m=16, ksub=16, pq_iters=2
    )
    plain = build_ivf_store(spark, emb, ivf_store, n_cells=8)
    # same coarse training path -> bit-identical centroids and cells
    assert centroids == plain
    assert len(codebooks) == 16 and len(codebooks[0]) == 16
    meta = json.load(open(os.path.join(pq_store, PQ_META_NAME)))
    assert (meta["m"], meta["ksub"]) == (16, 16)
    assert meta["codebooks"] == codebooks

    out = spark.read.parquet(pq_store)
    assert out.count() == emb.count()
    assert "pq_code" in out.columns
    pq_cells = {
        r["cell"] for r in out.select("cell").distinct().collect()
    }
    ivf_cells = {
        r["cell"]
        for r in spark.read.parquet(ivf_store).select("cell").distinct().collect()
    }
    assert pq_cells == ivf_cells
    # cell membership identical vector by vector
    a = {(r["vec_id"], r["cell"]) for r in out.select("vec_id", "cell").collect()}
    b = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(ivf_store).select("vec_id", "cell").collect()
    }
    assert a == b


def test_ivfpq_probe_with_full_shortlist_equals_ivf_probe(spark, tmp_path):
    """rerank_from >= probed population -> the ADC shortlist is the
    whole candidate set, so the exact-cosine rerank must reproduce
    ivf_probe row for row (same schema, ranks, rounded cosines)."""
    emb = _emb(spark)
    store = str(tmp_path / "ivfpq")
    build_ivfpq_store(spark, emb, store, n_cells=8, m=16, ksub=16, pq_iters=2)
    q = _queries(spark)
    n = emb.count()
    exact = [tuple(r) for r in ivf_probe(spark, store, q, k=5, nprobe=2).collect()]
    approx = [
        tuple(r)
        for r in ivfpq_probe(
            spark, store, q, k=5, nprobe=2, rerank_from=int(n)
        ).collect()
    ]
    assert approx == exact


def _store_scans(plan: str, store: str) -> list[dict[str, str]]:
    """The store's Scan nodes of a formatted plan, as {field: value}."""
    scans = []
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if not lines or "Scan parquet" not in lines[0]:
            continue
        fields = dict(ln.split(": ", 1) for ln in lines[1:] if ": " in ln)
        if store in fields.get("Location", ""):
            scans.append(fields)
    return scans


@pytest.mark.slow
def test_ivfpq_probe_columnar_economics(spark, tmp_path):
    """The plan must show both scan-side savings: the ADC shortlist
    scan reads codes, not the embedding column, and both store scans
    (shortlist and rerank) are pruned to the probed cells. There is
    no vec_id filter on the rerank scan: each cell file is one row
    group, so a scattered shortlist id list skips nothing (measured on
    200k x 64-d vectors in 16 cells, 2 probed, 320 ids: 24,977 rows
    and 12.2 MB read with the IN filter and without it)."""
    emb = _emb(spark)
    store = str(tmp_path / "ivfpq")
    build_ivfpq_store(spark, emb, store, n_cells=8, m=16, ksub=16, pq_iters=2)
    res = ivfpq_probe(spark, store, _queries(spark), k=3, nprobe=2, rerank_from=8)
    rows = res.collect()
    assert {r["q_id"] for r in rows} == {0, 1, 2}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    plan = buf.getvalue()
    scans = _store_scans(plan, os.path.basename(store))
    schemas = [s["ReadSchema"] for s in scans]
    assert any("pq_code" in r and "embedding" not in r for r in schemas), plan
    assert any("embedding" in r for r in schemas), plan
    for s in scans:
        assert "cell" in s["PartitionFilters"] and " IN (" in s["PartitionFilters"], plan


@pytest.mark.slow
def test_ivfpq_probe_tight_shortlist_recall(spark, tmp_path):
    """Under a tight shortlist (R=24 over ~125-vector probed sets) the
    ADC stage does real filtering; recall vs ivf_probe's exact ranking
    over the SAME cells must still clear a floor far above chance.
    Measured 0.70 at m=16/ksub=16 on this corpus (the synthetic
    near-uniform embeddings are PQ's hard case — see operators/pq.py);
    floor 0.5, roughly 10x the ~24/250 a random R=24 shortlist scores."""
    emb = _emb(spark)
    store = str(tmp_path / "ivfpq")
    build_ivfpq_store(spark, emb, store, n_cells=8, m=16, ksub=16, pq_iters=3)
    q = _queries(spark, n=5)
    k = 10
    exact = ivf_probe(spark, store, q, k=k, nprobe=2).collect()
    approx = ivfpq_probe(spark, store, q, k=k, nprobe=2, rerank_from=24).collect()
    hits = 0
    for qid in {r["q_id"] for r in exact}:
        e = {r["vec_id"] for r in exact if r["q_id"] == qid}
        a = {r["vec_id"] for r in approx if r["q_id"] == qid}
        hits += len(e & a)
    recall = hits / (5 * k)
    assert recall >= 0.5, recall


def test_ivfpq_residual_store_full_shortlist_equals_ivf_probe(spark, tmp_path):
    """Residual encoding changes WHAT the codes quantize (x − cell
    centroid) but never the probe contract: with a full-population
    shortlist the exact-cosine rerank must still reproduce ivf_probe
    row for row, and the meta must round-trip the residual flag so a
    probe can never rank residual codes with raw-query tables."""
    import json as _json
    import os as _os

    emb = _emb(spark)
    store = str(tmp_path / "ivfpq_res")
    build_ivfpq_store(
        spark, emb, store, n_cells=8, m=16, ksub=16, pq_iters=2, residual=True
    )
    meta = _json.load(open(_os.path.join(store, PQ_META_NAME)))
    assert meta["residual"] is True
    q = _queries(spark)
    n = emb.count()
    exact = [tuple(r) for r in ivf_probe(spark, store, q, k=5, nprobe=2).collect()]
    approx = [
        tuple(r)
        for r in ivfpq_probe(
            spark, store, q, k=5, nprobe=2, rerank_from=int(n)
        ).collect()
    ]
    assert approx == exact
    # and a tight shortlist still returns well-formed per-query top-k
    rows = ivfpq_probe(spark, store, q, k=3, nprobe=2, rerank_from=8).collect()
    assert {r["q_id"] for r in rows} == {0, 1, 2}
    assert all(1 <= r["rank"] <= 3 for r in rows)


@pytest.mark.slow
def test_ivfpq_residual_tightens_adc_on_clustered_data(spark, tmp_path):
    """The reason residual encoding exists: after cell pruning, codes
    should spend their resolution WITHIN the cell. On data whose cells
    are real clusters, the residual store's ADC shortlist must recall
    at least as well as the raw store's at the same tight R. Built
    from a clustered synthetic (16 centers × 40 jittered members — the
    vecs500x family structure in miniature) so the property is about
    the design, not this corpus's weak label clusters."""
    import numpy as np

    rng = np.random.RandomState(8)
    centers = rng.randn(16, 64) * 3
    rows = []
    for i in range(40):
        for c in range(16):
            # vec_id round-robins the clusters so the deterministic
            # lowest-vec_id seeding (coarse AND pq) sees every cluster
            # — with block ids the first 16 seeds all sat in cluster 0,
            # which degenerates the coarse quantizer and makes the
            # raw-vs-residual comparison noise
            v = centers[c] + rng.randn(64) * 0.05
            rows.append((i * 16 + c, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )  # 4 queries in 4 different clusters

    def recall(store):
        exact = ivf_probe(spark, store, q, k=5, nprobe=1).collect()
        got = ivfpq_probe(spark, store, q, k=5, nprobe=1, rerank_from=8).collect()
        hits = 0
        for qid in {r["q_id"] for r in exact}:
            e = {r["vec_id"] for r in exact if r["q_id"] == qid}
            a = {r["vec_id"] for r in got if r["q_id"] == qid}
            hits += len(e & a)
        return hits / (len({r["q_id"] for r in exact}) * 5)

    raw_store = str(tmp_path / "raw")
    res_store = str(tmp_path / "res")
    build_ivfpq_store(
        spark, emb, raw_store, n_cells=16, train_iters=3, m=16, ksub=16, pq_iters=3
    )
    build_ivfpq_store(
        spark, emb, res_store, n_cells=16, train_iters=3, m=16, ksub=16,
        pq_iters=3, residual=True,
    )
    r_raw, r_res = recall(raw_store), recall(res_store)
    assert r_res >= r_raw, (r_raw, r_res)
    assert r_res >= 0.5, (r_raw, r_res)


def test_ivfpq_probe_refuses_shortlist_below_k(tmp_path):
    """A shortlist shorter than k cannot fill the top-k: refused up
    front, before the store is read."""
    with pytest.raises(ValueError):
        ivfpq_probe(None, str(tmp_path / "absent"), None, k=10, rerank_from=2)


def test_suggest_rerank_from_spans_the_family(spark):
    """The R-sizing helper closes the measured COVERAGE.md loop: on a
    pair frame shaped like the vecs500x corpus (one 500-member jitter
    family as a clique + background 2-member families), the suggested
    shortlist must span the big family with headroom — the 1M-vector
    run showed R below family size (64 < 500) collapses recall to
    0.08 while R above it recovers 1.00."""
    from pyspark.sql import functions as F

    from indexr_spark.sources.vector_store import suggest_rerank_from

    n = 500
    fam = (
        spark.range(n).alias("a")
        .join(spark.range(n).alias("b"), F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
    )
    # 50 background pairs (ids far above the family's)
    bg = spark.range(50).select(
        (F.col("id") * 2 + 10_000).alias("a_id"),
        (F.col("id") * 2 + 10_001).alias("b_id"),
    )
    pairs = fam.unionAll(bg)
    r = suggest_rerank_from(pairs, k=10, quantile=0.99, headroom=1.25)
    # 500 members of degree 499 dominate the 0.99 quantile (500 of 600
    # members) -> family size 500, with headroom -> 625
    assert r >= n, f"suggested R={r} does not span the 500-family"
    assert r <= int(n * 1.5), f"suggested R={r} overshoots"

    # background-only corpus: families of 2 -> small R, floored at k
    assert suggest_rerank_from(bg, k=10) == 10

    # no pairs at all: nothing constrains R beyond k
    empty = bg.filter(F.lit(False))
    assert suggest_rerank_from(empty, k=7) == 7


# ---------------------------------------------------------------------------
# s14 draft: fixed-model full-probe certification (REGISTRY.md)


def _s14_numpy_reference(sf_dir):
    """The whole probe re-derived in numpy from the model FORMULAS —
    shares the constants but none of the expression machinery with
    the Spark side (no _argmax_cell, no pq_encode, no adc_tables)."""
    import numpy as np
    import pyarrow.parquet as pq

    from indexr_spark.operators.pq import (
        S14_K,
        S14_NPROBE,
        S14_R,
        s13_codebooks,
        s14_centroids,
        s14_queries,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vec_ids = np.asarray(t["vec_id"])
    X = np.array([list(v) for v in t["embedding"].to_pylist()], dtype=np.float64)
    C = np.array(s14_centroids(), dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in s13_codebooks()]
    m, dsub = len(books), books[0].shape[1]

    # coarse assign: cosine argmax, ties -> lower cell (argmax is
    # first-occurrence on ties)
    sims = (X @ C.T) / (
        np.linalg.norm(X, axis=1, keepdims=True) * np.linalg.norm(C, axis=1)
    )
    cell = np.argmax(sims, axis=1)
    # residual PQ encode: argmin L2 == argmax 2*dot - |c|^2
    R = X - C[cell]
    codes = np.empty((len(X), m), dtype=np.int64)
    for j in range(m):
        sub = R[:, j * dsub : (j + 1) * dsub]
        score = 2.0 * (sub @ books[j].T) - (books[j] ** 2).sum(axis=1)
        codes[:, j] = np.argmax(score, axis=1)

    out = []
    for qid, qv in enumerate(s14_queries()):
        q = np.array(qv, dtype=np.float64)
        qn = np.linalg.norm(q)
        csim = (C @ q) / (np.linalg.norm(C, axis=1) * qn)
        probed = np.argsort(-csim, kind="stable")[:S14_NPROBE]
        cand = np.flatnonzero(np.isin(cell, probed))
        # ADC from per-(cell, j, code) tables over the query residual
        adc = np.empty(len(cand))
        for i, ci in enumerate(cand):
            qr = q - C[cell[ci]]
            adc[i] = sum(
                ((qr[j * dsub : (j + 1) * dsub] - books[j][codes[ci, j]]) ** 2).sum()
                for j in range(m)
            )
        order = sorted(range(len(cand)), key=lambda i: (adc[i], vec_ids[cand[i]]))
        short = [cand[i] for i in order[:S14_R]]
        cos = [
            (float(X[i] @ q / (np.linalg.norm(X[i]) * qn)), int(vec_ids[i]), i)
            for i in short
        ]
        cos.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cv, vid, i) in enumerate(cos[:S14_K], 1):
            out.append((qid, rank, vid, int(cell[i])))
    return out


def test_s14_spark_matches_numpy_reference(spark):
    """Ranking columns (q_id, rank, vec_id, cell) must agree with the
    independent numpy replay of the whole probe; adc/cosine values are
    checked loosely (the numpy sums associate differently)."""
    from indexr_spark.operators.pq import s14_ivfpq_probe

    got = [tuple(r) for r in s14_ivfpq_probe(spark, SMOKE_SF).collect()]
    want = _s14_numpy_reference(SMOKE_SF)
    assert [(q, r, v, c) for q, r, v, c, *_ in got] == want
    assert all(a >= 0 for *_, a, _c in got)


def test_s14_duckdb_parity_and_structure(spark, duck_smoke):
    """The draft-protocol pin: registry form vs generated oracle,
    frame-exact, plus structural invariants (K rows per query, probed
    cells only, rerank ordering)."""
    from indexr_spark.operators.pq import (
        S14_K,
        S14_ORACLE_DRAFT,
        _s14_probe_rows,
        s14_ivfpq_probe,
    )

    got = [tuple(r) for r in s14_ivfpq_probe(spark, SMOKE_SF).collect()]
    want = [tuple(r) for r in duck_smoke.execute(S14_ORACLE_DRAFT).fetchall()]
    assert got == want
    probed = {(q, c) for q, c, *_ in _s14_probe_rows()}
    by_q = {}
    for q, rank, vid, cell, adc, cos in got:
        assert (q, cell) in probed
        by_q.setdefault(q, []).append((rank, cos))
    for q, rows in by_q.items():
        assert [r for r, _ in rows] == list(range(1, S14_K + 1))
        coss = [c for _, c in rows]
        assert coss == sorted(coss, reverse=True)


def test_s14_duckdb_parity_oracle_sf(spark):
    """s14 against its generated DuckDB oracle on the oracle corpus
    (sf0.01), frame-exact — the smoke corpus is pinned above."""
    from indexr_spark.operators.pq import S14_ORACLE_DRAFT, s14_ivfpq_probe
    from tests.conftest import ORACLE_SF, make_duck

    got = [tuple(r) for r in s14_ivfpq_probe(spark, ORACLE_SF).collect()]
    want = [tuple(r) for r in make_duck(ORACLE_SF).execute(S14_ORACLE_DRAFT).fetchall()]
    assert got and got == want
