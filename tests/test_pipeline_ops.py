"""Semantic invariants for the round-6 pipeline operators (d27–d30,
s12, kmeans_fit) — properties the DuckDB parity test can't express:
funnel monotonicity, partition completeness, information-theoretic
bounds, and Lloyd-loop convergence."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from indexr_spark import operators
from indexr_spark.operators import similarity as S
from indexr_spark.operators.text import INCREMENTAL_BATCH_MIN_SRC
from indexr_spark.tables import load_table
from tests.conftest import SMOKE_SF


def test_funnel_stage_counts_are_monotone_and_complete(spark):
    rows = operators.QUERIES["d30_pipeline_funnel"](spark, SMOKE_SF).collect()
    assert rows, "funnel produced no sources"
    n_docs = load_table(spark, SMOKE_SF, "documents").count()
    assert sum(r["n_total"] for r in rows) == n_docs
    for r in rows:
        # each stage can only shrink its input
        assert r["n_total"] >= r["n_quality"] >= r["n_dedup"] >= r["n_final"] >= 0
        # a source with zero final docs contributes zero tokens
        if r["n_final"] == 0:
            assert r["tokens_final"] == 0
    # the gates must actually discriminate on this corpus — a funnel
    # where every stage is a no-op certifies nothing
    assert sum(r["n_quality"] for r in rows) < n_docs
    assert sum(r["n_dedup"] for r in rows) < sum(r["n_quality"] for r in rows)


def test_incremental_dedup_statuses_partition_the_batch(spark):
    rows = operators.QUERIES["d28_incremental_dedup"](spark, SMOKE_SF).collect()
    d = load_table(spark, SMOKE_SF, "documents").withColumn(
        "src_no", F.substring("source", 4, 8).cast("int")
    )
    batch_n = d.filter(F.col("src_no") >= INCREMENTAL_BATCH_MIN_SRC).count()
    assert sum(r["n_docs"] for r in rows) == batch_n
    for r in rows:
        # kept / dup-vs-store / dup-within-batch partition every source
        assert r["n_kept"] + r["n_dup_store"] + r["n_dup_batch"] == r["n_docs"]
    # only batch sources appear
    assert all(int(r["source"][3:]) >= INCREMENTAL_BATCH_MIN_SRC for r in rows)


def test_unigram_logprob_is_consistent_and_positive(spark):
    rows = operators.QUERIES["d27_unigram_logprob"](spark, SMOKE_SF).collect()
    total = sum(r["n_tokens"] for r in rows)
    corpus_tokens = (
        load_table(spark, SMOKE_SF, "documents")
        .select(F.size(F.split("text", " ")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    # every corpus token is scored exactly once (LM covers the corpus
    # it was built from; split-on-space may add empties, so >=)
    assert total <= corpus_tokens
    for r in rows:
        assert r["nll"] > 0  # p(t) < 1 for every token in a >1-token corpus
        # ppl is exp(nll) by construction (both rounded to 6dp)
        assert abs(r["ppl"] - math.exp(r["nll"])) <= 1e-4 * r["ppl"]


def test_unigram_logprob_capped_vocab_and_oov_mass(spark):
    """The capped LM's contract, hand-computed: kept tokens keep their
    EXACT corpus probability (capping never re-normalizes them), every
    dropped token scores as one OOV event carrying the dropped mass,
    and min_count / top_k produce the same fold when they select the
    same vocab."""
    from indexr_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b d")], "doc_id long, text string"
    )
    # counts: a=3 b=2 c=1 d=1, total=7; top_k=2 and min_count=2 both
    # keep {a, b} (kept mass 5) -> oov mass 2
    la, lb, oov = math.log(3 / 7), math.log(2 / 7), math.log(2 / 7)
    expect = {
        1: -(2 * la + lb + oov) / 4,  # a a b c
        2: -(la + lb + oov) / 3,  # a b d
    }
    for kwargs in ({"top_k": 2}, {"min_count": 2}):
        rows = {r["doc_id"]: r for r in unigram_logprob(docs, **kwargs).collect()}
        assert set(rows) == {1, 2}
        for doc_id, nll in expect.items():
            assert abs(rows[doc_id]["nll"] - nll) < 1e-6, (kwargs, doc_id)
            assert abs(rows[doc_id]["ppl"] - math.exp(nll)) < 1e-4
    # floor=1 (the registry default) scores c and d with their own
    # singleton probability instead of the OOV fold
    r1 = {r["doc_id"]: r["nll"] for r in unigram_logprob(docs).collect()}
    l1 = math.log(1 / 7)
    assert abs(r1[1] - (-(2 * la + lb + l1) / 4)) < 1e-6
    # degenerate cap refused, not silently empty
    import pytest

    with pytest.raises(ValueError):
        unigram_logprob(docs, top_k=0)


def test_entropy_profile_long_doc_bounded_time(spark):
    """The sorted-run count path must stay tractable on the 100k-token
    documents a real pipeline profiles before chunking — the r6 shape
    (a filter scan per distinct token) was O(n·n_distinct) and took
    minutes on a doc like this; the run-boundary form is O(n log n).
    4k distinct tokens x 10 occurrences = 40k tokens; values verified
    exactly (uniform distribution -> entropy ln(nd), hapax 0)."""
    import time

    nd, reps = 4000, 10
    block = " ".join(f"t{i:05d}" for i in range(nd))
    docs = spark.createDataFrame(
        [(1, " ".join([block] * reps))], "doc_id long, text string"
    )
    from indexr_spark.operators.text import _entropy_profile_frame

    # the machine throttles in phases (COVERAGE.md: spark_cal swinging
    # 2.2 -> 7.2), so a fixed wall-clock bound flakes during a
    # throttled phase even though the shape is right. Scale the bound
    # by a cheap single-thread spin (the bench harness's calibration
    # pattern; ~0.35 s calm for 10M iterations) and keep a generous
    # floor — the gap being asserted is old-shape-vs-new (minutes vs
    # seconds), not a tight latency target.
    t0 = time.time()
    acc = 0
    for i in range(10_000_000):
        acc += i
    spin = time.time() - t0
    bound = max(120.0, 400.0 * spin)

    t0 = time.time()
    row = _entropy_profile_frame(docs).collect()[0]
    elapsed = time.time() - t0
    assert row["n_tokens"] == nd * reps
    assert row["n_distinct"] == nd
    assert abs(row["entropy"] - math.log(nd)) < 1e-4
    assert row["hapax_ratio"] == 0.0
    assert abs(row["ttr"] - 1 / reps) < 1e-6
    assert elapsed < bound, (
        f"long-doc entropy took {elapsed:.1f}s (bound {bound:.0f}s, "
        f"spin {spin:.2f}s)"
    )


def _repetition_stats_scan_reference(d):
    """d16's ORIGINAL scan-per-distinct HOF body, kept here verbatim as
    the reference since the r9 swap made _repetition_stats_frame the
    executed path (the pin would otherwise be tautological). O(n·n_d)
    per doc — fine at test scale, which is exactly why it was swapped
    out of the operator."""
    from pyspark.sql import functions as F

    from indexr_spark.operators.text import shingles, tokens

    base = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", "toks", shingles(F.col("toks"), 2).alias("shs")
    )
    toks, shs = F.col("toks"), F.col("shs")
    top_bigram = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(shs),
                lambda s: F.size(F.filter(shs, lambda x: x == s)),
            )
        ),
        F.lit(0),
    )
    n = F.size(toks)
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(1.0 - F.size(F.array_distinct(toks)).cast("double") / n, 6).alias(
            "dup_token_frac"
        ),
        top_bigram.alias("top_bigram_count"),
        F.round(2.0 * top_bigram / n, 6).alias("top_bigram_token_frac"),
    ).orderBy("doc_id")


def test_repetition_stats_sorted_run_form_matches_d16_exactly(spark):
    """d16's executed body (_repetition_stats_frame, sorted-run
    top-bigram — swapped in r9) must be column-for-column identical to
    the original scan-per-distinct form on the real corpus — this pin
    is the oracle for the swap, the same contract test_bpe's corpus
    pin provides for bpe_train rewrites."""
    d = load_table(spark, SMOKE_SF, "documents")
    old = _repetition_stats_scan_reference(d).collect()
    new = operators.QUERIES["d16_repetition_stats"](spark, SMOKE_SF).collect()
    assert len(old) == len(new) and len(old) > 0
    for o, n in zip(old, new):
        assert o.asDict() == n.asDict(), f"mismatch at doc {o['doc_id']}"


def test_repetition_stats_sorted_run_edge_cases(spark):
    """Hand cases the corpus may not cover: empty text (no shingles,
    top_bigram 0), single token (no shingles), an all-identical doc
    (one run covering every shingle), and a tie between two bigrams."""
    from indexr_spark.operators.text import _repetition_stats_frame

    docs = spark.createDataFrame(
        [
            (1, "a"),
            (2, "x x x x x"),
            (3, "a b a b c d"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in _repetition_stats_frame(docs).collect()}
    assert rows[1]["top_bigram_count"] == 0 and rows[1]["n_tokens"] == 1
    # "x x x x x": 4 shingles, all "x x" -> top run 4; dup frac 1 - 1/5
    assert rows[2]["top_bigram_count"] == 4
    assert abs(rows[2]["dup_token_frac"] - 0.8) < 1e-9
    assert abs(rows[2]["top_bigram_token_frac"] - 1.6) < 1e-9
    # "a b a b c d": shingles [a b, b a, a b, b c, c d] -> "a b" x2
    assert rows[3]["top_bigram_count"] == 2


def test_repetition_stats_long_doc_bounded_time(spark):
    """Same bounded-time contract as the entropy long-doc pin: 4k
    distinct bigrams x 10 occurrences must run in seconds (sorted-run
    shape), where the scan-per-distinct form takes minutes. The bound
    scales by the calibration spin because this machine throttles in
    phases (COVERAGE.md)."""
    import time

    from indexr_spark.operators.text import _repetition_stats_frame

    nd, reps = 4000, 10
    block = " ".join(f"t{i:05d}" for i in range(nd))
    docs = spark.createDataFrame(
        [(1, " ".join([block] * reps))], "doc_id long, text string"
    )

    t0 = time.time()
    acc = 0
    for i in range(10_000_000):
        acc += i
    spin = time.time() - t0
    bound = max(120.0, 400.0 * spin)

    t0 = time.time()
    row = _repetition_stats_frame(docs).collect()[0]
    elapsed = time.time() - t0
    assert row["n_tokens"] == nd * reps
    # every adjacent pair inside a block is distinct; the block seam
    # pair ("t03999 t00000") repeats reps-1 times between blocks, and
    # every within-block pair appears exactly reps times
    assert row["top_bigram_count"] == reps
    assert abs(row["dup_token_frac"] - (1 - nd / (nd * reps))) < 1e-9
    assert elapsed < bound, (
        f"long-doc repetition took {elapsed:.1f}s (bound {bound:.0f}s, "
        f"spin {spin:.2f}s)"
    )


def test_entropy_profile_respects_information_bounds(spark):
    rows = operators.QUERIES["d29_entropy_profile"](spark, SMOKE_SF).collect()
    for r in rows:
        # Shannon entropy of n_distinct outcomes is bounded by ln(n_distinct)
        assert -1e-6 <= r["entropy"] <= math.log(r["n_distinct"]) + 1e-6
        assert 0 < r["ttr"] <= 1.0
        assert 0 <= r["hapax_ratio"] <= 1.0
        # all-distinct docs achieve the maximum entropy exactly
        if r["n_tokens"] == r["n_distinct"]:
            assert abs(r["entropy"] - math.log(r["n_tokens"])) < 1e-5


def test_incremental_dedup_bucketed_store_joins_without_store_shuffle(spark):
    """d28's 100 TB posture, plan-pinned: a fingerprint store written
    hash-bucketed on the dedup key anti-joins an incoming batch with
    NO exchange on the store side (the bucket layout satisfies the
    join's distribution requirement) — the claim in d28's docstring.

    AQE would broadcast the tiny test store and hide the property, so
    the broadcast threshold is disabled for the assertion — at real
    scale the store is never broadcast-able, which is the regime the
    plan must survive."""
    import contextlib
    import io

    from indexr_spark.sources.segments import write_bucketed

    d = load_table(spark, SMOKE_SF, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    store = d.filter(F.col("doc_id") % 2 == 0).select("h").distinct()
    write_bucketed(store, "dedup_store_bucketed", ["h"], n_buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            batch = d.filter(F.col("doc_id") % 2 == 1).repartition(8, "h")
            novel = batch.join(
                spark.table("dedup_store_bucketed"), "h", "left_anti"
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                novel.explain("formatted")
            plan = buf.getvalue()
            # store side: scan feeds the join with no Exchange above it
            assert "SelectedBucketsCount" in plan, plan
            store_section = plan.split("Scan parquet spark_catalog.default.dedup_store_bucketed")
            assert len(store_section) >= 2, plan
            # count exchanges: only the batch side may shuffle
            import re

            n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
            assert n_ex <= 1, f"store side shuffled:\n{plan}"
            # semantics unchanged by the layout
            expect = batch.join(store, "h", "left_anti").count()
            assert novel.count() == expect
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS dedup_store_bucketed")


def test_kmeans_fit_converges_with_nonincreasing_inertia(spark):
    emb = load_table(spark, SMOKE_SF, "embeddings")
    cents, history = S.kmeans_fit(emb, k=8, max_iters=8, tol=1e-4)
    assert len(cents) == 8 and len(cents[0]) == 64
    assert history, "no iterations ran"
    # Lloyd on the spherical objective: sum(1 - cos) never increases
    # (tiny tolerance for float noise in the distributed sums)
    for a, b in zip(history, history[1:]):
        assert b["inertia"] <= a["inertia"] + 1e-6
    # converged within budget, or used every iteration trying
    assert history[-1]["max_shift"] < 1e-4 or len(history) == 8
    # the trained model must still assign every vector to some cell
    n = S.kmeans_assign(S._with_norm(emb), cents).count()
    assert n == emb.count()


def test_kmeans_step_matches_first_fit_iteration(spark):
    """s12's reported shift equals the fit loop's first-round shift
    (same seeds, same update rule) — pins the two code paths to one
    definition of the step."""
    emb = load_table(spark, SMOKE_SF, "embeddings")
    step = operators.QUERIES["s12_kmeans_step"](spark, SMOKE_SF).collect()
    _, history = S.kmeans_fit(emb, k=8, max_iters=1)
    max_step_shift = max(r["centroid_shift"] for r in step)
    # s12 rounds centroids to 6dp before the shift; allow that width
    assert abs(max_step_shift - history[0]["max_shift"]) < 1e-3
    total_inertia = sum(r["inertia"] * r["n_members"] for r in step)
    assert abs(total_inertia - history[0]["inertia"]) < 1e-3


def test_neardup_against_store_finds_exact_and_near_dups(spark):
    """Incremental near-dup vs a persisted signature store: identical
    token sets estimate J=1.0; a one-token-appended variant estimates
    high-but-below-1; unrelated docs stay out; the bucket valve
    excludes oversized store buckets loudly rather than silently."""
    from indexr_spark.operators.text import (
        MINHASH_SEEDS,
        doc_band_sigs,
        neardup_against_store,
    )

    store_docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "totally different words about sparks and rows here"),
        ],
        "doc_id LONG, text STRING",
    )
    batch_docs = spark.createDataFrame(
        [
            (101, "alpha beta gamma delta epsilon zeta eta theta"),  # exact
            (102, "alpha beta gamma delta epsilon zeta eta theta extra"),  # near
            (103, "nothing in common with either of them at all"),
        ],
        "doc_id LONG, text STRING",
    )
    # 4x4 banding (d09's recall tuning): at 2x8 the J=0.875 variant
    # deterministically misses both bands with this hash family
    store = doc_band_sigs(store_docs, bands=4)
    batch = doc_band_sigs(batch_docs, bands=4)
    rows = {
        (r.doc_id, r.store_id): r.est_jaccard
        for r in neardup_against_store(batch, store, est_threshold=0.5).collect()
    }
    assert rows[(101, 1)] == 1.0
    assert (102, 1) in rows and 0.5 <= rows[(102, 1)] < 1.0
    assert all(d != 103 for d, _ in rows)
    # sanity: one row per pair despite multi-band collisions
    assert len([k for k in rows if k == (101, 1)]) == 1

    # the estimator is a share of MINHASH_SEEDS — granularity check
    assert all(
        abs(v * MINHASH_SEEDS - round(v * MINHASH_SEEDS)) < 1e-6
        for v in rows.values()
    )

    # bucket valve: cap of 0 would be nonsense, cap of 1 keeps
    # single-doc buckets only — the exact-dup pair (two docs NEVER
    # share a store bucket with another store doc here, store buckets
    # are all size 1) must survive a cap of 1
    capped = {
        (r.doc_id, r.store_id)
        for r in neardup_against_store(
            batch, store, est_threshold=0.5, max_bucket=1
        ).collect()
    }
    assert (101, 1) in capped


def test_neardup_against_store_cap_drops_oversized_bucket(spark, caplog):
    """max_bucket really excludes a bucket: three store docs sharing one
    token set fill every (band, sig) bucket of that set with 3 rows, so
    at max_bucket=2 a batch copy of that text finds none of them, while
    a batch copy of a singleton store doc still pairs — and the drop is
    logged with its pair estimate (3 rows → 3 pairs per band)."""
    import logging as _logging

    from indexr_spark.operators.text import doc_band_sigs, neardup_against_store

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    lone = "totally different words about sparks and rows here"
    store = doc_band_sigs(
        spark.createDataFrame(
            [(1, shared), (2, shared), (3, shared), (4, lone)],
            "doc_id LONG, text STRING",
        ),
        bands=4,
    )
    batch = doc_band_sigs(
        spark.createDataFrame(
            [(101, shared), (102, lone)], "doc_id LONG, text STRING"
        ),
        bands=4,
    )

    def pairs(max_bucket):
        return {
            (r.doc_id, r.store_id)
            for r in neardup_against_store(
                batch, store, est_threshold=0.5, max_bucket=max_bucket
            ).collect()
        }

    assert pairs(None) == {(101, 1), (101, 2), (101, 3), (102, 4)}
    assert pairs(3) == pairs(None)  # a cap no bucket exceeds drops nothing
    caplog.clear()
    with caplog.at_level(_logging.WARNING, logger="indexr_spark.functions.joins"):
        assert pairs(2) == {(102, 4)}
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "LSH bucket cap 2: dropping 4 oversized buckets "
        "(~12 within-bucket candidate pairs affected)" in m
        for m in msgs
    ), msgs


def test_neardup_store_matches_batch_jaccard_on_corpus_split(spark):
    """On the real corpus split (store = src0-9, batch = src10-19),
    every estimated pair at a high threshold must correspond to a pair
    of docs whose TRUE token-set Jaccard is high — the estimator can't
    hallucinate pairs (it can only miss)."""
    from indexr_spark.operators.text import doc_band_sigs, neardup_against_store
    from indexr_spark.tables import load_table

    d = load_table(spark, SMOKE_SF, "documents").withColumn(
        "src_no", F.substring("source", 4, 8).cast("int")
    )
    store = doc_band_sigs(d.filter(F.col("src_no") < 10))
    batch = doc_band_sigs(d.filter(F.col("src_no") >= 10))
    pairs = neardup_against_store(batch, store, est_threshold=0.9).collect()
    assert pairs, "corpus has cross-source canonical dups; expected pairs"
    toks = {
        r["doc_id"]: set(r["t"])
        for r in d.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("t")
        ).collect()
    }
    for r in pairs:
        a, b = toks[r.doc_id], toks[r.store_id]
        true_j = len(a & b) / len(a | b)
        assert true_j >= 0.5, (r.doc_id, r.store_id, r.est_jaccard, true_j)


def test_weighted_sample_is_deterministic_and_weight_biased(spark):
    """A-ES weighted sampling: exactly k per stratum, identical across
    invocations, and the inclusion rate of heavy docs must exceed the
    light docs' on a corpus where weights differ 100x (statistical,
    but deterministic — the hash family is fixed, so this either
    passes forever or never)."""
    from pyspark.sql import Row

    from indexr_spark.operators.text import weighted_sample

    rows = [
        Row(doc_id=i, source=f"s{i % 4}", n_chars=1000 if i % 10 == 0 else 10)
        for i in range(400)
    ]
    d = spark.createDataFrame(rows)
    s1 = weighted_sample(d, k=10, weight_col="n_chars", strata_col="source")
    s2 = weighted_sample(d, k=10, weight_col="n_chars", strata_col="source")
    r1 = sorted((r.source, r.doc_id) for r in s1.collect())
    assert r1 == sorted((r.source, r.doc_id) for r in s2.collect())
    # exactly k per stratum
    from collections import Counter

    per = Counter(s for s, _ in r1)
    assert set(per.values()) == {10}
    # heavy docs are 10% of the corpus; at 100x weight they take far
    # more than their population share (measured: exactly 50% with
    # this hash family — A-ES keys u^(1/w) still let high-u light
    # docs win, so 100% heavy would indicate a bug, not success)
    heavy = sum(1 for _, i in r1 if i % 10 == 0)
    assert 0.3 < heavy / len(r1) < 0.9

    # global (unstratified) form: k rows, same determinism
    g = weighted_sample(d, k=25, weight_col="n_chars", strata_col=None)
    assert g.count() == 25
    # columns pass through untouched
    assert set(g.columns) == {"doc_id", "source", "n_chars"}


def test_weighted_sample_uniform_weights_match_hash_order(spark):
    """With equal weights A-ES degenerates to a uniform hash-ordered
    sample: key ordering is ln(u)/c — monotone in u — so the selected
    set must equal the top-k docs by the raw hash-derived uniform."""
    from pyspark.sql import Row

    from indexr_spark.functions.text import hash32
    from indexr_spark.operators.text import weighted_sample

    d = spark.createDataFrame([Row(doc_id=i, n_chars=7) for i in range(100)])
    got = {r.doc_id for r in weighted_sample(d, 10, strata_col=None).collect()}
    want = {
        r.doc_id
        for r in d.withColumn("u", hash32(F.col("doc_id").cast("string")))
        .orderBy(F.desc("u"), "doc_id")
        .limit(10)
        .collect()
    }
    assert got == want


def _py_minhash(text: str | None) -> list[int | None]:
    """Plain-Python MinHash reference: md5-prefix base hash per
    distinct whitespace token, then min((h*A_j + B_j) mod P) per seed
    (None for a token-less doc, as array_min of an empty array)."""
    import hashlib

    from indexr_spark.operators.text import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        MINHASH_SEEDS,
    )

    hs = [
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for t in {t for t in (text or "").split(" ") if t}
    ]
    return [
        min(((h * MINHASH_A[j] + MINHASH_B[j]) % MINHASH_P for h in hs), default=None)
        for j in range(MINHASH_SEEDS)
    ]


def _py_band_sigs(mh: list[int | None], bands: int) -> list[str]:
    r = len(mh) // bands
    return [
        ",".join(str(m) for m in mh[b * r:(b + 1) * r] if m is not None)
        for b in range(bands)
    ]


def test_doc_and_group_band_sigs_agree(spark):
    """Both grains of the one signature builder — doc_band_sigs (the
    store schema) and _group_band_sigs (the d07/d09 candidate path) —
    produce the plain-Python MinHash reference's minhashes and
    comma-joined band strings for every document, at 2 and 4 bands.
    A family or banding change that broke either grain would break
    signature-store compatibility or oracle parity."""
    from indexr_spark.operators.text import _group_band_sigs, doc_band_sigs
    from indexr_spark.tables import load_table

    d = load_table(spark, SMOKE_SF, "documents").limit(50).localCheckpoint()
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    mh = {i: _py_minhash(t) for i, t in texts.items()}
    groups = d.select(
        F.col("doc_id").alias("gid"), F.lit(1).alias("rep"), F.col("text").alias("any_text")
    )
    for bands in (2, 4):
        want = {
            (i, b): sig
            for i, m in mh.items()
            for b, sig in enumerate(_py_band_sigs(m, bands))
        }
        doc_rows = doc_band_sigs(d.select("doc_id", "text"), bands=bands).collect()
        assert {(r.doc_id, r.band): r.sig for r in doc_rows} == want, bands
        assert all(list(r.mhs) == mh[r.doc_id] for r in doc_rows), bands
        assert {r.n_bands for r in doc_rows} == {bands}
        group_sigs = {
            (r.gid, r.band): r.sig
            for r in _group_band_sigs(groups, bands=bands).collect()
        }
        assert group_sigs == want, bands
    assert len(texts) == 50


def test_simhash_pairs_complete_vs_brute_force(spark):
    """The pigeonhole guarantee, checked exhaustively: banded simhash
    candidates + popcount verify must find EXACTLY the brute-force
    set of Hamming-<=3 pairs over the corpus's d08 hashes — recall
    1.0 by construction (unlike MinHash banding), precision 1.0 from
    the verify."""
    from indexr_spark import operators
    from indexr_spark.operators.text import simhash_pairs

    sim = operators.QUERIES["d08_simhash"](spark, SMOKE_SF)
    rows = {r.doc_id: r.simhash for r in sim.collect()}
    ids = sorted(rows)
    want = {
        (a, b, bin(rows[a] ^ rows[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(rows[a] ^ rows[b]).count("1") <= 3
    }
    got = {(r.a_id, r.b_id, r.hamming) for r in simhash_pairs(sim).collect()}
    assert got == want
    assert want, "corpus has no Hamming-<=3 simhash pairs — vacuous test"


def test_simhash_pairs_parameter_guards(spark):
    import pytest

    from indexr_spark import operators
    from indexr_spark.operators.text import simhash_pairs

    sim = operators.QUERIES["d08_simhash"](spark, SMOKE_SF).limit(10)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(sim, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_pairs(sim, max_hamming=3, bands=5)


def test_redact_pii_hand_docs_and_duckdb_replay(spark):
    """d36 draft proven before registration (the d35 protocol): the
    Spark redaction must equal the generated DuckDB replay on docs
    that exercise every pattern, pattern ORDER (an email's digits must
    not be half-eaten by the phone pass), multiple matches per doc,
    and the no-PII case."""
    import duckdb

    from indexr_spark.operators.text import D36_ORACLE_DRAFT, redact_pii

    rows = [
        (1, "contact bob.smith+x@lab-7.example.org or alice@ex.io today"),
        (2, "server at 10.0.255.7 fell over; ping 192.168.1.1 failed"),
        (3, "call +1 (555) 123-4567 or 020 7946 0958 now"),
        (4, "mixed: a@b.co from 8.8.8.8 dialed 555-867-5309 twice"),
        (5, "no pii here, just words and the number 42"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_email"], r["n_ip"], r["n_phone"], r["redacted"])
        for r in redact_pii(docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = {
        doc_id: (ne, ni, np_, red)
        for doc_id, ne, ni, np_, red in con.execute(D36_ORACLE_DRAFT).fetchall()
    }
    assert got == oracle
    # semantic spot-pins, independent of both engines
    assert got[1][0] == 2 and "<EMAIL>" in got[1][3] and "@" not in got[1][3]
    assert got[2][1] == 2 and "<IP>" in got[2][3]
    assert got[3][2] == 2 and "<PHONE>" in got[3][3]
    assert got[4] == (1, 1, 1, "mixed: <EMAIL> from <IP> dialed <PHONE> twice")
    assert got[5] == (0, 0, 0, rows[4][1])
    assert got[6] == (0, 0, 0, "")


def test_redact_pii_corpus_is_clean_and_parity_holds(spark):
    """The synthetic corpus carries no PII — the operator must say so
    (all counts 0, text unchanged), and the d36 registry form must
    match the DuckDB oracle on the real table end-to-end."""
    import duckdb

    from indexr_spark.operators.text import D36_ORACLE_DRAFT, d36_redact_pii

    got = d36_redact_pii(spark, SMOKE_SF).collect()
    assert all(
        r["n_email"] == 0 and r["n_ip"] == 0 and r["n_phone"] == 0 for r in got
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF}/documents.parquet')"
    )
    oracle = con.execute(D36_ORACLE_DRAFT).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in oracle]


def test_repetition_stats_sorted_run_randomized_python_reference(spark):
    """200 random token lists (seeded) checked against a plain-Python
    counter reference — catches anything the structured corpus and the
    hand cases both miss (e.g. runs at array boundaries, single-shingle
    docs, high-duplication alphabets)."""
    import random
    from collections import Counter

    from indexr_spark.operators.text import _repetition_stats_frame

    rng = random.Random(8016)
    alphabet = ["a", "b", "c", "d", "e"]
    rows = []
    for i in range(200):
        n = rng.randint(0, 40)
        rows.append((i, " ".join(rng.choice(alphabet) for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in _repetition_stats_frame(docs).collect()}
    assert len(got) == 200
    for doc_id, text in rows:
        toks = [t for t in text.split(" ") if t]
        shs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top = max(Counter(shs).values()) if shs else 0
        r = got[doc_id]
        assert r["n_tokens"] == len(toks), doc_id
        assert r["top_bigram_count"] == top, doc_id
        if toks:
            assert (
                abs(r["dup_token_frac"] - round(1 - len(set(toks)) / len(toks), 6))
                < 1e-9
            ), doc_id
            assert (
                abs(r["top_bigram_token_frac"] - round(2.0 * top / len(toks), 6))
                < 1e-9
            ), doc_id


def test_bigram_logprob_hand_corpus_and_duckdb_replay(spark):
    """d38 draft proven before registration: hand-computed values on a
    corpus small enough to verify by hand, plus full-table parity with
    the generated DuckDB replay at sf0.001. Scoring contract: position
    0 pays the unigram -ln c(w)/T, every later position pays the
    conditional -ln c(w1,w2)/ctx(w1); nll is the per-token mean."""
    import math

    import duckdb

    from indexr_spark.operators.text import (
        D38_ORACLE_DRAFT,
        bigram_logprob,
        d38_bigram_logprob,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    # corpus: T=8; c(a)=3 c(b)=3 c(c)=2
    # bigrams: (a,b)x3, (b,a)x1, (b,c)x1; ctx(a)=3, ctx(b)=2, ctx(c)=0
    la_b = math.log(3 / 3)  # P(b|a) = 1
    lb_a = math.log(1 / 2)
    lb_c = math.log(1 / 2)
    exp1 = -(math.log(3 / 8) + la_b + lb_a + la_b) / 4  # a b a b
    exp2 = -(math.log(3 / 8) + la_b + lb_c) / 3  # a b c
    exp3 = -math.log(2 / 8) / 1  # c (unigram only)
    for doc_id, want in ((1, exp1), (2, exp2), (3, exp3)):
        assert abs(rows[doc_id]["nll"] - round(want, 6)) < 1e-6, doc_id
        assert abs(rows[doc_id]["ppl"] - round(math.exp(rows[doc_id]["nll"]), 6)) < 1e-5
    assert rows[1]["n_tokens"] == 4 and rows[3]["n_tokens"] == 1

    # full-table parity with the DuckDB replay
    got = [tuple(r) for r in d38_bigram_logprob(spark, SMOKE_SF).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF}/documents.parquet')"
    )
    want = con.execute(D38_ORACLE_DRAFT).fetchall()
    assert got == [tuple(r) for r in want]
    # Gibbs' inequality on the CORPUS total: over the bigram
    # positions, the conditional MLE beats ANY position-independent
    # model (including d27's unigram), and the position-0 terms are
    # identical in both scorers — so the token-weighted corpus NLL
    # must be strictly lower for the bigram LM. (Per-DOC it can go
    # either way — measured 366/500 here — which is exactly why the
    # invariant is the weighted total, not a per-row comparison.)
    uni = {
        (r["doc_id"]): (r["n_tokens"], r["nll"])
        for r in operators.QUERIES["d27_unigram_logprob"](spark, SMOKE_SF).collect()
    }
    bi = {r[0]: (r[1], r[2]) for r in got}
    tot_uni = sum(n * v for n, v in uni.values())
    tot_bi = sum(n * v for n, v in bi.values())
    assert tot_bi < tot_uni, (tot_bi, tot_uni)


def test_redact_pii_randomized_three_engine_agreement(spark):
    """150 generated docs mixing words, emails, IPs, phone-shaped runs,
    and near-miss decoys (bare @, 5-octet dotted runs, short digit
    runs) — Spark (Java regex) must agree with a plain-Python `re`
    replay of the same sequential passes, and with the DuckDB (RE2)
    oracle, on counts AND redacted text. Three engines, one pattern
    table: if any engine's regex dialect drifted outside the common
    subset PII_PATTERNS is held to, this catches it."""
    import random
    import re as pyre

    import duckdb

    from indexr_spark.operators.text import (
        D36_ORACLE_DRAFT,
        PII_PATTERNS,
        redact_pii,
    )

    rng = random.Random(3608)
    words = ["alpha", "beta", "gamma", "delta", "sig", "x9", "mail", "at"]
    emails = ["a.b+c@ex-1.example.org", "q@q.io", "u_1%v@sub.domain.co"]
    ips = ["10.0.0.1", "255.255.255.255", "8.8.8.8"]
    phones = ["+1 (555) 123-4567", "020 7946 0958", "555-867-5309"]
    decoys = ["a@b", "1.2.3.4.5", "call 42 now", "v1.2.3", "50%"]
    rows = []
    for i in range(150):
        parts = []
        for _ in range(rng.randint(0, 12)):
            bucket = rng.random()
            if bucket < 0.55:
                parts.append(rng.choice(words))
            elif bucket < 0.7:
                parts.append(rng.choice(emails))
            elif bucket < 0.8:
                parts.append(rng.choice(ips))
            elif bucket < 0.9:
                parts.append(rng.choice(phones))
            else:
                parts.append(rng.choice(decoys))
        rows.append((i, " ".join(parts)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_email"], r["n_ip"], r["n_phone"], r["redacted"])
        for r in redact_pii(docs).collect()
    }

    def py_redact(text):
        out, counts = text, []
        for _name, pat, tok in PII_PATTERNS:
            counts.append(len(pyre.findall(pat, out)))
            out = pyre.sub(pat, tok, out)
        return (*counts, out)

    for doc_id, text in rows:
        assert got[doc_id] == py_redact(text), (doc_id, text)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = {
        doc_id: (ne, ni, np_, red)
        for doc_id, ne, ni, np_, red in con.execute(D36_ORACLE_DRAFT).fetchall()
    }
    assert got == oracle


def test_dup_spans_hand_docs_python_reference(spark):
    """d40 draft proven before registration (the d36 protocol): maximal
    duplicated spans on hand docs checked against a plain-Python
    suffix-free reference (all shared k-gram diagonals, islands merged
    by hand logic). Exercises: a long shared span, two disjoint spans
    on different diagonals, a span shared by 3 docs (3 pair rows), a
    repeated gram INSIDE one doc (multiple diagonals for one pair),
    same-doc repetition (must NOT appear), and docs shorter than k."""
    from indexr_spark.operators.text import SPAN_KGRAM, dup_spans

    k = SPAN_KGRAM
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"intro words here {boiler} trailing one"),
        (2, f"{boiler} completely different ending text follows now"),
        (3, f"prefix {boiler} suffix and then {boiler} once more"),
        (4, "too short"),
        (5, "x " * 40),  # periodic same-doc repetition only
        (6, "totally unrelated content with no shared grams at all then"),
    ]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens)
        for r in dup_spans(docs).collect()
    }

    def py_spans(rows, k):
        toks = {i: [t for t in s.split(" ") if t] for i, s in rows}
        grams = {
            i: {
                p + 1: " ".join(ts[p : p + k])
                for p in range(len(ts) - k + 1)
            }
            for i, ts in toks.items()
        }
        out = set()
        ids = sorted(grams)
        for x in ids:
            for y in ids:
                if x >= y:
                    continue
                pts = {
                    (pa, pb)
                    for pa, ga in grams[x].items()
                    for pb, gb in grams[y].items()
                    if ga == gb
                }
                by_diag = {}
                for pa, pb in pts:
                    by_diag.setdefault(pa - pb, []).append(pa)
                for diag, pas in by_diag.items():
                    pas.sort()
                    run_start = pas[0]
                    prev = pas[0]
                    for p in pas[1:] + [None]:
                        if p is not None and p == prev + 1:
                            prev = p
                            continue
                        out.add(
                            (x, y, run_start, run_start - diag, prev - run_start + k)
                        )
                        if p is not None:
                            run_start = prev = p
        return out

    want = py_spans([(i, t.strip()) for i, t in rows], k)
    assert got == want
    # structural spot-pins independent of the reference
    assert any(a == 1 and b == 2 for a, b, *_ in got), "boilerplate span missed"
    pair_13 = [r for r in got if r[0] == 1 and r[1] == 3]
    assert len(pair_13) >= 2, "doc 3 repeats the boilerplate twice"
    assert not any(a == b for a, b, *_ in got)
    assert not any(5 in (a, b) for a, b, *_ in got), "same-doc repetition leaked"
    assert not any(4 in (a, b) or 6 in (a, b) for a, b, *_ in got)


def test_dup_spans_corpus_duckdb_parity_and_maximality(spark):
    """d40 registry form vs the draft oracle on the real table, plus
    the maximality invariant: no span is a sub-diagonal of another."""
    import duckdb

    from indexr_spark.operators.text import D40_ORACLE_DRAFT, d40_dup_spans

    got = [tuple(r) for r in d40_dup_spans(spark, SMOKE_SF).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(D40_ORACLE_DRAFT).fetchall()]
    assert got == oracle
    assert got, "corpus has no duplicated spans — vacuous test"
    spans = {}
    for doc_a, doc_b, a0, b0, n in got:
        spans.setdefault((doc_a, doc_b, a0 - b0), []).append((a0, n))
    for (_, _, _diag), ss in spans.items():
        ss.sort()
        for (a0, n), (a1, _n1) in zip(ss, ss[1:]):
            assert a0 + n - 1 < a1 + 5, "adjacent runs on one diagonal not merged"


def test_dup_spans_max_gram_df_valve(spark):
    """The scale valve drops hot grams from anchoring: with the cap at
    1 every anchor dies (any cross-doc match means df >= 2), and the
    capped pair set is a subset of the exact one at permissive caps."""
    from indexr_spark.operators.text import dup_spans
    from indexr_spark.tables import load_table

    d = load_table(spark, SMOKE_SF, "documents")
    assert dup_spans(d, max_gram_df=1).count() == 0
    exact = {tuple(r) for r in dup_spans(d).collect()}
    # a cap above the hottest gram's df is a no-op (same plan contract)
    assert {tuple(r) for r in dup_spans(d, max_gram_df=10**9).collect()} == exact
    # a binding cap may shrink spans but never invents them: every
    # capped span must sit on some exact span's (pair, diagonal) and
    # inside its extent
    capped = {tuple(r) for r in dup_spans(d, max_gram_df=5).collect()}
    for doc_a, doc_b, a0, b0, n in capped:
        assert any(
            xa == doc_a
            and xb == doc_b
            and a0 - b0 == ea - eb
            and ea <= a0
            and a0 + n <= ea + en
            for (xa, xb, ea, eb, en) in exact
        ), (doc_a, doc_b, a0, b0, n)


def test_dup_spans_plan_shape_plain_join(spark):
    """Pin the r10 join-shape finding (COVERAGE.md spans100x): the
    anchor join must be a PLAIN self-join on the gram hash — no chunk
    valve (its ~C/2 left-side replication cost 49x at 500k docs in a
    millions-of-tiny-buckets regime) and no cartesian. The valve's
    plan signature is its __chunk_* columns; their absence plus a
    single equi-join is the shape this test freezes."""
    from indexr_spark.operators.text import dup_spans
    from indexr_spark.tables import load_table

    q = dup_spans(load_table(spark, SMOKE_SF, "documents"))
    plan = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "__chunk_" not in plan, (
        "dup_spans regressed to the chunked valve join — see the "
        "spans100x scale section before undoing the plain join"
    )
    import re

    # node headers only — the formatted plan repeats each operator
    # name in its detail section
    n_joins = len(re.findall(
        r"^\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
        plan, re.M,
    ))
    assert n_joins == 1, f"expected exactly one anchor join, saw {n_joins}"


def test_dup_spans_pk_radix_overflow_fails_loudly(spark):
    """The r9 ADVICE fix: a doc_id outside the 2^34 packing range must
    raise, not silently alias pk across docs and corrupt the
    chunked_self_join pair-uniqueness invariant. (The pos >= 2^28 arm
    shares the same raise_error branch; a 268M-token doc is not
    constructible in a unit test.)"""
    import pytest
    from py4j.protocol import Py4JJavaError

    from indexr_spark.operators.text import dup_spans

    big = 1 << 34
    d = spark.createDataFrame(
        [
            (big, "alpha beta gamma delta epsilon zeta eta theta"),
            (big + 1, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    with pytest.raises((Py4JJavaError, Exception), match="radix overflow"):
        dup_spans(d).collect()
    # and in-range ids on the same frame shape still work
    ok = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    assert dup_spans(ok).count() == 1


def test_quality_classifier_python_reference_and_duckdb_parity(spark):
    """d41 draft proven before registration: scores on hand docs match
    a plain-Python md5 reference bit-for-bit at 6dp, empty/one-token
    edges hold, and the registry form matches the DuckDB oracle on the
    real table end-to-end."""
    import duckdb
    import hashlib
    import math

    from indexr_spark.operators.text import (
        D41_ORACLE_DRAFT,
        d41_quality_classifier,
        quality_classifier,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha"),
        (3, ""),
        (4, "zz " * 30),
        (5, "the rate of change of momentum equals applied force"),
    ]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_grams, r.score, r.label)
        for r in quality_classifier(docs).collect()
    }

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for doc_id, text in rows:
        toks = [t for t in text.strip().split(" ") if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        m = (
            math.fsum((h32(g) % 2001 - 1000) / 1000.0 for g in grams) / len(grams)
            if grams
            else 0.0
        )
        score = round(1.0 / (1.0 + math.exp(-m)), 6)
        label = "keep" if score >= 0.5 else "drop"
        n, s, lab = got[doc_id]
        assert n == len(grams)
        assert abs(s - score) < 1e-9, (doc_id, s, score)
        assert lab == label
    assert got[3] == (0, 0.5, "keep")  # empty doc: mean 0 -> sigmoid(0)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(D41_ORACLE_DRAFT).fetchall()]
    corpus = [tuple(r) for r in d41_quality_classifier(spark, SMOKE_SF).collect()]
    assert corpus == oracle
    labels = {lab for *_, lab in corpus}
    assert labels == {"keep", "drop"}, "corpus scores all one-sided — vacuous"


def test_perplexity_bucket_duckdb_parity_and_invariants(spark, duck_smoke):
    """d42 draft proven before registration: frame-exact DuckDB parity
    on the real table, per-source share/count invariants, boundary
    semantics, and the suggest helper's contract. The LM scores
    underneath are d38's, already pinned by their own python
    reference — this pin certifies the bucketing + mixing layer."""
    from indexr_spark.operators.text import (
        D42_ORACLE_DRAFT,
        d42_perplexity_bucket,
        perplexity_bucket,
        suggest_ppl_thresholds,
    )
    got = [tuple(r) for r in d42_perplexity_bucket(spark, SMOKE_SF).collect()]
    want = [tuple(r) for r in duck_smoke.execute(D42_ORACLE_DRAFT).fetchall()]
    assert got == want
    assert {b for _, b, *_ in got} == {"head", "middle", "tail"}, "vacuous split"

    d = load_table(spark, SMOKE_SF, "documents")
    per_source = {}
    for source, _b, n_docs, _nt, share in got:
        per_source.setdefault(source, [0, 0.0])
        per_source[source][0] += n_docs
        per_source[source][1] += share
    counts = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for source, (nd, sh) in per_source.items():
        assert nd == counts[source]
        assert abs(sh - 1.0) < 1e-5, (source, sh)

    # boundary semantics: ppl == t1 is NOT head (strict <); pin by
    # setting t1 to an observed rounded ppl value
    scored = perplexity_bucket(d)
    one = scored.first()
    relabeled = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_bucket(d, t1=one["ppl"], t2=one["ppl"] + 1.0)
        .filter(F.col("doc_id") == one["doc_id"])
        .collect()
    }
    assert relabeled[one["doc_id"]] == "middle"

    t1, t2 = suggest_ppl_thresholds(scored)
    assert t1 < t2
    sug = perplexity_bucket(d, t1=t1, t2=t2)
    assert {r["bucket"] for r in sug.select("bucket").distinct().collect()} == {
        "head", "middle", "tail"
    }
    import pytest

    with pytest.raises(ValueError):
        perplexity_bucket(d, t1=2.0, t2=1.0)
    with pytest.raises(ValueError):
        suggest_ppl_thresholds(scored, fractions=(0.9, 0.1))


def test_payload_phash_properties_and_mm06_duckdb_parity(spark, duck_smoke):
    """mm06 draft proven before registration: the decode-pass phash is
    locality-sensitive (identical payloads collide at hamming 0, a
    one-char edit stays near), truncated payloads are rejected like a
    codec would, unicode survives the byte round-trip, and the
    registry form matches the brute-force DuckDB replay on the real
    corpus pair-for-pair."""
    import hashlib

    from indexr_spark.operators.multimodal import (
        MM06_ORACLE_DRAFT,
        mm06_phash_neardup,
        payload_phash,
        with_binary_payload,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (3, "the quick brown fox jumps over the lazy cat"),   # near dup
        (4, "abc"),                                           # < 4 chars
        (5, "naïve café blß " * 4),                           # unicode
        (6, "completely different content about spark plans"),
    ]
    d = with_binary_payload(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    got = {r["doc_id"]: r["simhash"] for r in payload_phash(d).collect()}

    def py_phash(s):
        grams = {s[i : i + 4] for i in range(len(s) - 3)}
        counts = [0] * 32
        for g in grams:
            hv = int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
            for j in range(32):
                counts[j] += 1 if (hv >> j) & 1 else -1
        return sum(1 << j for j in range(32) if counts[j] >= 0)

    assert 4 not in got, "truncated payload must be rejected"
    for doc_id, text in rows:
        if doc_id == 4:
            continue
        assert got[doc_id] == py_phash(text), doc_id
    assert got[1] == got[2]
    near = bin(got[1] ^ got[3]).count("1")
    far = bin(got[1] ^ got[6]).count("1")
    assert near < far, (near, far)

    corpus = [tuple(r) for r in mm06_phash_neardup(spark, SMOKE_SF).collect()]
    oracle = [tuple(r) for r in duck_smoke.execute(MM06_ORACLE_DRAFT).fetchall()]
    assert corpus == oracle
    assert corpus, "corpus has no phash near-dups — vacuous test"
    assert all(h <= 3 for *_, h in corpus)


def test_dedup_spans_apply_hand_docs_and_duckdb_parity(spark, duck_smoke):
    """d43 draft proven before registration: hand docs with literal
    expected outputs — the span is excised from each pair's LATER doc
    (chains keep exactly the first copy), overlapping removals union
    via the position set, a full-duplicate empties out, sub-k overlaps
    are untouched — plus frame-exact DuckDB parity on the corpus."""
    from indexr_spark.operators.text import (
        D43_ORACLE_DRAFT,
        d43_dedup_spans_apply,
        dedup_spans_apply,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e f g y"),
        (3, "a b c d e f q r s t u v"),
        (4, "a b c d e f g h"),
        (5, "m n o p q r s t u"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_clean"])
           for r in dedup_spans_apply(d).collect()}
    assert got == {
        1: (8, 0, "a b c d e f g h"),      # never the later doc
        2: (9, 7, "x y"),                  # 7-token span excised
        3: (12, 6, "q r s t u v"),         # overlapping removals union
        4: (8, 8, ""),                     # exact dup fully removed
        5: (9, 0, "m n o p q r s t u"),    # 5-token overlap < k stays
    }

    corpus = [tuple(r) for r in d43_dedup_spans_apply(spark, SMOKE_SF).collect()]
    oracle = [tuple(r) for r in duck_smoke.execute(D43_ORACLE_DRAFT).fetchall()]
    assert corpus == oracle
    assert sum(r[2] for r in corpus) > 0, "corpus removed nothing — vacuous"
    assert len(corpus) == 500, "every input doc must appear"


def test_semdedup_policy_reference_and_duckdb_parity(spark, duck_smoke):
    """s15 draft proven before registration (the d36/d37 protocol):
    the keep-outliers policy on crafted vectors, an independent numpy
    replay of the whole decision on the real corpus, survivor/pruned
    invariants, and frame-exact DuckDB parity at sf0.001."""
    import numpy as np

    from indexr_spark.operators.similarity import (
        S15_ORACLE_DRAFT,
        S15_TAU,
        s15_centroids,
        s15_semdedup,
        semdedup,
    )
    from tests.semdedup_ref import semdedup_reference

    cents = s15_centroids()
    c0, c1 = cents[0], cents[1]
    # a near-dup trio along c0's direction (pairwise cos ~1 >= tau)
    # with distinct centroid similarities, plus a singleton near c1
    eps = [0.3 if d % 2 else -0.3 for d in range(64)]
    rows = [
        (1, [float(x) for x in c0]),                    # csim = 1.0
        (2, [2.0 * x for x in c0]),                     # csim = 1.0, later rank
        (3, [x + e for x, e in zip(c0, eps)]),          # csim < 1.0 -> ranked first
        (4, [float(x) for x in c1]),                    # alone in its cell
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["keep"] for r in semdedup(d).collect()}
    # the LEAST centroid-similar member of the trio survives (the
    # paper's keep-outliers policy); its tau-close cellmates are
    # pruned; the singleton keeps trivially
    assert got == {1: False, 2: False, 3: True, 4: True}

    # independent numpy replay on the real corpus
    eng = s15_semdedup(spark, SMOKE_SF).collect()
    emb = load_table(spark, SMOKE_SF, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in emb])
    V = np.array([r["embedding"] for r in emb], dtype=np.float64)
    ref = semdedup_reference(ids, V, cents, S15_TAU)
    assert {r["vec_id"]: (r["cell"], r["csim"], r["keep"]) for r in eng} == ref
    kept = [r["vec_id"] for r in eng if r["keep"]]
    pruned = [r["vec_id"] for r in eng if not r["keep"]]
    assert kept and pruned, "decision is vacuous on this corpus"

    # survivor invariant: no two kept items in one cell are tau-close
    U = V / np.linalg.norm(V, axis=1)[:, None]
    S = np.round(U @ U.T, 6)
    pos = {int(v): i for i, v in enumerate(ids)}
    by_cell = {}
    for r in eng:
        if r["keep"]:
            by_cell.setdefault(r["cell"], []).append(pos[r["vec_id"]])
    for members in by_cell.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                assert S[members[x], members[y]] < S15_TAU

    # frame-exact DuckDB parity
    got_rows = [tuple(r) for r in s15_semdedup(spark, SMOKE_SF).collect()]
    oracle = [tuple(r) for r in duck_smoke.execute(S15_ORACLE_DRAFT).fetchall()]
    assert got_rows == oracle
