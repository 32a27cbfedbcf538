"""d09's bitset verify at its dictionary limit.

jaccard_pairs packs each doc's shingle set into a bitmap when the
corpus' distinct shingle-hash vocabulary fits D09_BITSET_VOCAB_CAP and
keeps the array_intersect verify beyond it. Both sides of the boundary
(vocabulary exactly at the cap, and one past it) are checked against a
plain-Python Jaccard over the same LSH candidate pairs.
"""

from __future__ import annotations

import hashlib

import pytest

from indexr_spark.operators import text as T


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _shingle_hashes(text: str) -> set[int]:
    toks = [t for t in text.split(" ") if t]
    return {_h32(f"{toks[i]} {toks[i + 1]}") for i in range(len(toks) - 1)}


def _corpus(vocab_size: int) -> list[tuple[int, str]]:
    """Near-dup families (a 12-token base plus three one-token variants)
    and one filler doc of fresh tokens sized so the corpus holds exactly
    `vocab_size` distinct shingle hashes."""
    docs = []
    for f in range(vocab_size // 20):
        base = [f"f{f}w{k}" for k in range(12)]
        docs.append(" ".join(base))
        for v in range(3):
            var = list(base)
            var[v + 1] = f"f{f}x{v}"
            docs.append(" ".join(var))
    have = len(set().union(*(_shingle_hashes(t) for t in docs)))
    # m fresh tokens add m - 1 shingles
    docs.append(" ".join(f"fill{k}" for k in range(vocab_size - have + 1)))
    assert len(set().union(*(_shingle_hashes(t) for t in docs))) == vocab_size
    return list(enumerate(docs))


@pytest.mark.parametrize(
    "over, verify_fn",
    [(0, "bit_count"), (1, "array_intersect")],
    ids=["at_cap", "over_cap"],
)
def test_jaccard_pairs_at_bitset_cap_match_python(spark, tmp_path, over, verify_fn):
    rows = _corpus(T.D09_BITSET_VOCAB_CAP + over)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got_df = T.jaccard_pairs(spark, str(tmp_path))
    assert verify_fn in got_df._jdf.queryExecution().optimizedPlan().toString()
    got = {(r.a_id, r.b_id): r.jaccard for r in got_df.collect()}

    cand = {
        (r.a_id, r.b_id)
        for r in T._lsh_doc_pairs(spark, str(tmp_path), T.JACCARD_BANDS).collect()
    }
    sets = {i: _shingle_hashes(t) for i, t in rows}
    want = {}
    for a, b in cand:
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= T.JACCARD_THRESHOLD:
            want[(a, b)] = j
    assert want, "the near-dup families must produce verified pairs"
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) <= 1e-6 for k in want)
