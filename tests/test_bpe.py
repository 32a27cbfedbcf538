"""BPE tokenizer training (bpe_train) and encoding (bpe_apply),
certified against a plain-Python REFERENCE implementation of the
Sennrich algorithm — d34 has no SQL oracle (iterative argmax-and-
rewrite is not one DuckDB query), so the independent check is an
algorithmic re-implementation, which is stronger than a value-hash:
it shares no code, no engine, and no expression semantics with the
Spark side."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from indexr_spark.operators.text import bpe_apply, bpe_train
from indexr_spark.tables import load_table
from tests.conftest import ORACLE_SF, SMOKE_SF


def ref_bpe_train(texts, n_merges, min_freq=2):
    """Reference BPE: word counts → repeat (count adjacent pairs
    positionally, pick max with lexicographic tie-break, merge greedy
    left-to-right per word)."""
    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] += 1
    syms = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, f in words.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        # max freq, ties lexicographic on (left, right)
        (left, right), pf = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pf < min_freq:
            break
        merges.append((rank, left, right, left + right, pf))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def test_bpe_train_matches_reference_on_handmade_corpus(spark):
    texts = ["low low low lower lower lowest", "new newer newest low"]
    expect, _ = ref_bpe_train(texts, n_merges=8)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["freq"])
        for r in bpe_train(
            spark.createDataFrame([(t,) for t in texts], "text string"),
            n_merges=8,
        ).orderBy("rank").collect()
    ]
    assert got == expect


def test_bpe_train_matches_reference_on_corpus(spark):
    """The d34 registry row's semantics, end-to-end on the driver's
    own corpus at smoke scale — every rank, symbol and count equal."""
    docs = load_table(spark, SMOKE_SF, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    expect, _ = ref_bpe_train(texts, n_merges=12)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["freq"])
        for r in bpe_train(docs, n_merges=12).orderBy("rank").collect()
    ]
    assert got == expect
    assert len(got) == 12  # this corpus supports at least 12 merges


def test_d35_merges_are_d34s_learned_prefix(spark):
    """D35_MERGES must BE the first 12 merges d34 learns on the
    driver corpus (sf0.01 — the r12 verdict's task 5). Until r12 the
    table was hand-picked, so d35's oracle-backed green row said
    nothing about training; tying the constant to bpe_train's actual
    output makes d35's row an indirect certificate of d34 — a
    training defect now flips this assertion (checked against BOTH
    the Spark trainer, the code d34 runs, and the plain-Python
    Sennrich reference, so the constant can't drift with a shared
    bug). First-12-of-20 equals n_merges=12 because greedy BPE
    training is prefix-stable: each round's argmax does not depend on
    how many later rounds will run."""
    from indexr_spark.operators.text import D35_MERGES

    docs = load_table(spark, ORACLE_SF, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    ref_merges, _ = ref_bpe_train(texts, 12)
    expect_ref = [(l, r) for _, l, r, _, _ in ref_merges]
    assert D35_MERGES == expect_ref, "constant != plain-Python training"
    got_spark = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=12).orderBy("rank").collect()
    ]
    assert D35_MERGES == got_spark, "constant != Spark bpe_train (d34)"


def test_bpe_train_deterministic(spark):
    docs = load_table(spark, SMOKE_SF, "documents")
    a = bpe_train(docs, n_merges=5).collect()
    b = bpe_train(docs, n_merges=5).collect()
    assert a == b


def test_bpe_train_min_freq_stops(spark):
    # every word unique → every pair frequency 1 → no merge at the
    # default min_freq=2
    df = spark.createDataFrame([("ab cd ef",)], "text string")
    assert bpe_train(df, n_merges=5).count() == 0


def test_bpe_apply_reproduces_training_segmentation(spark):
    """Encoding the training corpus with the learned table must
    reproduce the trained word symbols exactly (the fold and the
    rank-ordered encode are the same greedy semantics)."""
    texts = ["low low low lower lower lowest", "new newer newest low"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=8).orderBy("rank").collect()
    _, ref_syms = ref_bpe_train(texts, n_merges=8)
    got = {
        r["doc_id"]: r["bpe_toks"]
        for r in bpe_apply(docs, merges).collect()
    }
    for i, t in enumerate(texts):
        expect = [s for w in t.split(" ") if w for s in ref_syms[w]]
        assert got[i] == expect, i


def test_d34_registry_row_shape(spark):
    from indexr_spark import operators

    df = operators.QUERIES["d34_bpe_merges"](spark, SMOKE_SF)
    rows = df.collect()
    assert [f.name for f in df.schema.fields] == [
        "rank", "left", "right", "merged", "freq",
    ]
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    assert all(r["merged"] == r["left"] + r["right"] for r in rows)
    # rows-only contract: d34 deliberately has no SQL oracle
    assert "d34_bpe_merges" not in operators.ORACLE


def test_d35_draft_fixed_table_encode_matches_duckdb_replay(spark):
    """The r9 registry row, proven before registration (REGISTRY.md's
    d35 sketch): bpe_apply with the FIXED D35_MERGES table must equal
    a DuckDB rank-order replay — one greedy merge application is
    `replace()` on a separator-joined symbol string, and rank-order
    replay equals min-rank-first encode (see d35_bpe_encode's
    docstring for both proofs). Also cross-checked against the
    plain-Python encoder so the two engines cannot be wrong together."""
    import duckdb

    from indexr_spark.operators.text import (
        D35_MERGES,
        D35_ORACLE_DRAFT,
        _d35_encode_frame,
        d35_bpe_encode,
    )
    from indexr_spark.tables import load_table

    got = {
        r["doc_id"]: list(r["bpe_toks"])
        for r in _d35_encode_frame(spark, SMOKE_SF).collect()
    }
    # The REGISTERED row (scalar output — the r10 shape fix) must be
    # exactly the array form space-joined: the reshape is cosmetic.
    joined = {
        r["doc_id"]: r["bpe_toks"]
        for r in d35_bpe_encode(spark, SMOKE_SF).collect()
    }
    assert joined == {k: " ".join(v) for k, v in got.items()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF}/documents.parquet')"
    )
    oracle = {
        doc_id: list(toks)
        for doc_id, toks in con.execute(D35_ORACLE_DRAFT).fetchall()
    }
    assert set(got) == set(oracle)
    for doc_id in got:
        assert got[doc_id] == oracle[doc_id], doc_id

    # and the registered (scalar) oracle must match the registered row
    # cell-for-cell — this is the comparison the driver actually runs.
    from indexr_spark.operators.text import D35_ORACLE

    oracle_joined = dict(con.execute(D35_ORACLE).fetchall())
    assert joined == oracle_joined

    # independent cross-check: the reference encoder (min-rank-first)
    rank_of = {p: i for i, p in enumerate(D35_MERGES)}

    def ref_encode(word):
        syms = list(word) + ["</w>"]
        while len(syms) >= 2:
            best = min(
                (
                    (rank_of[(a, b)], i)
                    for i, (a, b) in enumerate(zip(syms, syms[1:]))
                    if (a, b) in rank_of
                ),
                default=None,
            )
            if best is None:
                break
            a, b = D35_MERGES[best[0]]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    docs = load_table(spark, SMOKE_SF, "documents")
    for r in docs.select("doc_id", "text").limit(50).collect():
        expect = [
            s for w in r["text"].split(" ") if w for s in ref_encode(w)
        ]
        assert got[r["doc_id"]] == expect, r["doc_id"]


def test_d37_fertility_matches_duckdb_and_bounds(spark):
    """d37 draft proven before registration: per-source fertility/
    compression under the fixed D35 table must match the DuckDB
    aggregate of the (already-proven) d35 replay, and must respect the
    algorithm's own bounds — every word emits at least one subword
    (fertility >= 1) and no subword exceeds the word+marker length."""
    import duckdb

    from indexr_spark.operators.text import (
        D37_ORACLE_DRAFT,
        d37_tokenizer_fertility,
    )

    got = [tuple(r) for r in d37_tokenizer_fertility(spark, SMOKE_SF).collect()]
    assert got, "no sources"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF}/documents.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(D37_ORACLE_DRAFT).fetchall()]
    assert got == oracle
    for source, n_docs, n_words, n_subwords, fert, cps in got:
        assert n_docs > 0 and n_words > 0
        assert fert >= 1.0, (source, fert)  # a word is >= 1 subword
        assert 0 < cps, (source, cps)
