"""Text-analysis + deduplication operators over `documents`.

Beyond-reference, first-class training-data-pipeline ops (BASELINE.json
north star): token statistics, language-ID heuristic, quality scoring,
fingerprinting, exact + canonical dedup, MinHash-LSH near-dup, SimHash,
n-gram Jaccard. All pure Catalyst expressions (split / higher-order
array functions / md5) — no Python UDFs — so they run in whole-stage
codegen and scale linearly; every op has an exact DuckDB oracle built
from the same portable md5-derived hashes (functions/text.py).

Scale notes: the explode-based ops (MinHash, Jaccard) shuffle on
(doc, token)-grain keys; at 100 TB the band/bucket joins are the
standard LSH pattern — shuffle by bucket, pair only within buckets —
and the ORDER BY tails here exist only for oracle determinism.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from indexr_spark.functions.text import (
    distinct_tokens,
    hash32,
    hash60,
    shingles,
    tokens,
)
from indexr_spark.functions.joins import (
    cap_buckets,
    chunked_self_join,
    first_match_band,
)
from indexr_spark.tables import load_table, spread_scan

ORACLE: dict[str, str] = {}

# Shared DuckDB fragments (kept textually identical across oracles).
_DUCK_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"

EN_MARKERS = ("the", "a", "of", "to", "and", "in", "is")

MINHASH_SEEDS = 16
MINHASH_BANDS = 2  # d07 default: 2 bands x 8 rows, pair-detect P = 1-(1-J^8)^2
# d09's candidate banding is recall-tuned for its verify threshold: the
# S-curve for b bands x r rows crosses at (1/b)^(1/r), and 4x4 measured
# 0.933 recall of the J>=0.1 ground truth at sf0.01 (2x8: 0.659) while
# keeping the candidate count ~3x d07's, not the ~4.5x of 8x2. Banding
# is a parameter of the shared candidate helper, so a deployment tunes
# bands-per-threshold without touching the operators.
JACCARD_BANDS = 4
# Universal hash family over one base md5 hash: mh_j(t) = (A_j*h(t)+B_j) mod P.
# One md5 per token instead of one per (token, seed) — 16x fewer digests.
# A_j bounded so A_j*h < 2^63 (no BIGINT overflow on either engine).
MINHASH_P = 2147483647
MINHASH_A = [999961 + 2 * j for j in range(MINHASH_SEEDS)]
MINHASH_B = [997 * (j + 1) for j in range(MINHASH_SEEDS)]
JACCARD_NGRAM = 2
JACCARD_THRESHOLD = 0.1
# d09 bitset-verify valve: the packed-bitmap Jaccard verify needs a
# driver-collected dictionary of DISTINCT shingle hashes; beyond this
# cap (64 bitmap longs/doc, a 4,096-entry map) the vocabulary is
# treated as web-scale and the verify keeps the array_intersect form.
# The map appears once in the plan, so analysis is linear in the
# vocabulary (CHANGES.md, the cap measurement).
D09_BITSET_VOCAB_CAP = 4096
SIMHASH_BITS = 32


def _lsh_max_bucket() -> int | None:
    """Deployment dial for the LSH bucket cap (see _lsh_group_pairs).

    The driver contract fixes operator signatures at (spark, sf_dir),
    so the scale valve is reachable via INDEXR_LSH_MAX_BUCKET — a
    100 TB run sets it to bound the worst (band, signature) bucket;
    oversized buckets are then EXCLUDED from candidate generation with
    the forgone-pair estimate logged (never silent). Unset (the
    default, and what the correctness driver runs), d07/d09/d12/d20
    produce the exact oracle-matched pair/cluster sets. Measured on
    the 10x spot-run corpus: d09's verify goes >590 s uncapped →
    112.6 s at max_bucket=500 with ~170M forgone candidates logged
    (COVERAGE.md).
    """
    env = os.environ.get("INDEXR_LSH_MAX_BUCKET", "").strip()
    if not env:
        return None
    try:
        cap = int(env)
    except ValueError:
        raise ValueError(
            f"INDEXR_LSH_MAX_BUCKET={env!r} is not an integer; "
            "set a positive bucket-size cap or unset it to disable"
        ) from None
    # 0 (or negative) would exclude EVERY bucket and silently gut the
    # candidate set — read it as 'disabled', the only sane intent.
    return cap if cap > 0 else None


def d01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting (whitespace tokenizer): counts,
    distinct counts, average token length, char length."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(sum_len.cast("double") / F.size(toks), 6).alias("avg_token_len"),
        F.length("text").alias("n_chars_calc"),
    ).orderBy("doc_id")


ORACLE["d01_token_stats"] = f"""
SELECT doc_id,
       CAST(len({_DUCK_TOKS}) AS INTEGER)                 AS n_tokens,
       CAST(len(list_distinct({_DUCK_TOKS})) AS INTEGER)  AS n_distinct,
       round(CAST(list_sum(list_transform({_DUCK_TOKS}, x -> length(x))) AS DOUBLE)
             / len({_DUCK_TOKS}), 6)                      AS avg_token_len,
       CAST(length(text) AS INTEGER)                      AS n_chars_calc
FROM documents
ORDER BY doc_id
"""


def d02_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: ratio of English function
    words among tokens. (The corpus vocabulary is English-ish, so the
    interesting part is the deterministic ratio computation, not the
    verdict.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    markers = F.size(F.filter(toks, lambda x: x.isin(*EN_MARKERS)))
    ratio = markers.cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("en_marker_ratio"),
        F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("lang_guess"),
    ).orderBy("doc_id")


_markers_sql = "('" + "', '".join(EN_MARKERS) + "')"
ORACLE["d02_lang_id"] = f"""
SELECT doc_id, lang,
       round(CAST(len(list_filter({_DUCK_TOKS}, x -> x IN {_markers_sql})) AS DOUBLE)
             / len({_DUCK_TOKS}), 6) AS en_marker_ratio,
       CASE WHEN CAST(len(list_filter({_DUCK_TOKS}, x -> x IN {_markers_sql})) AS DOUBLE)
                 / len({_DUCK_TOKS}) >= 0.08
            THEN 'en' ELSE 'other' END AS lang_guess
FROM documents
ORDER BY doc_id
"""


def d03_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: token volume, lexical diversity,
    punctuation ratio, mean token length — the standard cheap
    pre-training quality gates, composed as one scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    sum_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    avg_len = sum_len.cast("double") / n_tok
    punct = F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")).cast("double")
    punct_ratio = punct / F.length("text")
    score = (
        0.3 * F.least(F.lit(1.0), n_tok / 100.0)
        + 0.3 * distinct_ratio
        + 0.2 * (1.0 - punct_ratio)
        + 0.2 * F.least(F.lit(1.0), avg_len / 8.0)
    )
    return d.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
    ).orderBy("doc_id")


ORACLE["d03_quality_score"] = f"""
WITH q AS (
  SELECT doc_id,
         CAST(len({_DUCK_TOKS}) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
           / CAST(len({_DUCK_TOKS}) AS DOUBLE) AS distinct_ratio,
         CAST(list_sum(list_transform({_DUCK_TOKS}, x -> length(x))) AS DOUBLE)
           / CAST(len({_DUCK_TOKS}) AS DOUBLE) AS avg_len,
         CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio
  FROM documents
)
SELECT doc_id,
       round(0.3 * least(1.0, n_tok / 100.0)
             + 0.3 * distinct_ratio
             + 0.2 * (1.0 - punct_ratio)
             + 0.2 * least(1.0, avg_len / 8.0), 6) AS quality_score,
       round(distinct_ratio, 6)                    AS distinct_ratio,
       round(punct_ratio, 6)                       AS punct_ratio
FROM q
ORDER BY doc_id
"""


def d04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-text md5 plus the minimum
    3-shingle rolling hash (the winnowing-style representative
    fingerprint used for container-level dedup)."""
    d = load_table(spark, sf_dir, "documents")
    # token array materialized first — no CSE inside lambdas (see d22)
    return (
        d.select("doc_id", "text", tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.md5("text").alias("fp_md5"),
            F.array_min(
                F.transform(shingles(F.col("toks"), 3), hash60)
            ).alias("fp_min_shingle"),
        )
        .orderBy("doc_id")
    )


ORACLE["d04_fingerprint"] = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks, text FROM documents)
SELECT doc_id,
       md5(text) AS fp_md5,
       list_min(list_transform(
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
         s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS fp_min_shingle
FROM t
ORDER BY doc_id
"""


def d05_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on md5(text): one shuffle on the
    hash key, min(doc_id) survives — at 100 TB this is the cheapest
    dedup pass and runs before any near-dup machinery."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


ORACLE["d05_exact_dedup"] = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS keep_id,
       count(*)    AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_id
"""


def d06_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized dedup: documents with the same *sorted distinct
    token set* are duplicates (word-order-insensitive). This corpus
    does contain such collisions, unlike raw-text duplicates."""
    d = load_table(spark, sf_dir, "documents")
    canon = _canon_key(distinct_tokens("text"))
    return (
        d.groupBy(canon.alias("canon_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


ORACLE["d06_canonical_dedup"] = f"""
SELECT md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS canon_hash,
       min(doc_id) AS keep_id,
       count(*)    AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_id
"""


def _canon_key(dt: Column) -> Column:
    """Canonical token-set key over a PRE-PROJECTED distinct-token
    array column: md5 of the sorted set (d06's key). MinHash
    signatures are pure functions of the distinct token set, so docs
    sharing this key share every band signature. Takes the column
    rather than tokenizing internally so callers can share one
    tokenization between their size() filter and the key (no
    cross-operator CSE in Catalyst). The single definition is
    load-bearing: _canon_groups and _doc_gid_map must produce
    IDENTICAL gids or the group/membership join silently drops docs."""
    return F.md5(F.array_join(F.array_sort(dt), " "))


def _canon_base(
    spark: SparkSession, sf_dir: str, tokd: DataFrame | None = None
) -> DataFrame:
    """(doc_id, gid) for every token-bearing doc — ONE tokenize +
    canon-digest pass that both the group frame and the membership
    map derive from (callers that need both checkpoint this NARROW
    frame and pass it down, halving the corpus tokenization cost).
    Deliberately two thin columns: column pruning cannot reach
    through a materialized checkpoint, so pinning text here would
    store the whole corpus body on executors for the query's
    lifetime — at 100 TB that is pinning the corpus itself. The one
    consumer that needs a text (_canon_groups' any_text) re-reads it
    from the raw table with a group-count-sized join instead.

    Token-less docs (empty/whitespace-only) carry no minhash signal:
    the doc-level oracle drops them from the signature CTE (unnest of
    an empty token list emits no rows), so they can never pair. The
    within-group leg would otherwise pair all empty docs through the
    shared md5('') canon key — a latent oracle mismatch on hostile
    corpora (r3 ADVICE). The token set is projected ONCE and both the
    filter and the canon key read the column — a filter on
    size(distinct_tokens(text)) would re-tokenize the corpus (no
    cross-operator CSE).
    """
    # `tokd` (r13 opt): an optional pre-tokenized (doc_id, toks) frame —
    # callers that ALSO need the token arrays for their own stage (d09's
    # shingle build) pass their pinned frame so the corpus regex-split
    # runs once per query instead of once per stage. Same values either
    # way: distinct_tokens(text) == array_distinct(tokens(text)).
    if tokd is not None:
        dd = tokd.select(
            "doc_id", F.array_distinct("toks").alias("dt")
        ).filter(F.size("dt") > 0)
    else:
        d = spread_scan(load_table(spark, sf_dir, "documents"))
        dd = d.select(
            "doc_id", distinct_tokens("text").alias("dt")
        ).filter(F.size("dt") > 0)
    return dd.select("doc_id", _canon_key(F.col("dt")).alias("gid"))


def _canon_groups(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """One row per distinct token set: (gid, rep, any_text).

    Dedup-first: web-crawl corpora are duplication-heavy, and every
    doc-level LSH pays k²/2 bucket pairs per dup-cluster of size k.
    Collapsing identical token sets BEFORE the signature join means
    the quadratic part runs over unique sets only; dup-cluster pairs
    are re-expanded afterwards from the (doc→gid) mapping, exactly
    reproducing the doc-level pair set (signatures are functions of
    the token set). At 100 TB the groupBy is one hash shuffle of
    (gid, doc_id) pairs — the cheapest pass in the pipeline — and the
    membership stays a TABLE (never a collect_list array), so a
    100M-doc dup cluster costs rows, not one giant row.

    `any_text` is the REPRESENTATIVE's text (rep = min doc_id),
    fetched by a group-count-sized join against the raw table rather
    than dragged through the groupBy — it is used only for signature
    computation, where any member is exact (signatures are functions
    of the distinct token set, which every member shares). No
    broadcast hint on the join: the reps side is group-count-sized,
    which a dup-heavy corpus keeps modest but a clean 100 TB corpus
    does not; AQE picks broadcast when it fits.
    """
    if base is None:
        base = _canon_base(spark, sf_dir)
    reps = base.groupBy("gid").agg(F.min("doc_id").alias("rep"))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return reps.join(d, reps.rep == d.doc_id).select(
        "gid", "rep", F.col("text").alias("any_text")
    )


def _doc_gid_map(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """(doc_id, gid) membership mapping for group→doc expansion.
    Token-less docs excluded — same oracle-parity rationale as
    _canon_base (they can never appear in a signature bucket)."""
    if base is None:
        base = _canon_base(spark, sf_dir)
    return base.select("doc_id", "gid")


def _minhash_band_sigs(
    df: DataFrame, keys: list[str], text_col: str, bands: int
) -> DataFrame:
    """The one MinHash band-signature builder: one row per (key, band),
    (*keys, mhs, sigs, band, sig), where `mhs` is the K=MINHASH_SEEDS
    minhash array, `sigs` the `bands` comma-joined band strings (the
    oracles' string_agg form) and `sig` = sigs[band], band 0-based.

    All K min-hashes are computed as array expressions over the token
    set *within the row* — signature building costs ZERO shuffles.
    Each token is md5-hashed ONCE; the K family members are cheap
    modular arithmetic over that base hash."""
    rows_per_band = MINHASH_SEEDS // bands
    # Base token hashes materialized ONCE per row as a column: the 16
    # family members each reference the base array, and Catalyst does
    # no CSE inside lambda bodies — passing the raw transform(md5(...))
    # expression would re-digest every token 16 times (see d22).
    hs = df.select(
        *keys,
        F.transform(distinct_tokens(text_col), lambda t: hash32(t)).alias("hs"),
    )

    def family_member(j: int):
        # closure factory: a 2-arg lambda would be treated by PySpark
        # as the (element, index) form, so bind A/B outside the lambda
        a, b = MINHASH_A[j], MINHASH_B[j]
        return F.array_min(
            F.transform(F.col("hs"), lambda h: (h * a + b) % MINHASH_P)
        )

    # one column per family member, so `mhs` and `sigs` both read each
    # minhash by reference (the group grain prunes `mhs` away entirely)
    mh = [F.col(f"mh{j}") for j in range(MINHASH_SEEDS)]
    sig_cols = [
        F.concat_ws(
            ",",
            *[c.cast("string") for c in mh[b * rows_per_band : (b + 1) * rows_per_band]],
        )
        for b in range(bands)
    ]
    per_key = hs.select(
        *keys, *[family_member(j).alias(f"mh{j}") for j in range(MINHASH_SEEDS)]
    ).select(*keys, F.array(*mh).alias("mhs"), F.array(*sig_cols).alias("sigs"))
    # posexplode_OUTER: semantically identical here (`sigs` is a
    # literal array constructor of `bands` non-null strings — never
    # empty, never null), but the non-outer form lets Catalyst infer
    # `size(sigs) > 0` and SUBSTITUTE the whole 16-minhash signature
    # expression through the projections into a pre-join filter on the
    # raw documents side — re-tokenizing every doc 16 times with no hs
    # materialization (the exact per-family-member CSE disaster the hs
    # column exists to avoid; it was most of a 2x d07 regression). The
    # outer form carries no inferable constraint.
    return per_key.select(
        *keys, "mhs", "sigs", F.posexplode_outer("sigs").alias("band", "sig")
    )


def _group_band_sigs(groups: DataFrame, bands: int) -> DataFrame:
    """Per (group, band) signature rows: (gid, rep, band, sig, sigs).
    `sigs` carries the full per-group signature array so the bucket
    join can apply first-match-band semantics (see _lsh_group_pairs).
    """
    # The groups frame arrives from a groupBy whose tiny output AQE
    # coalesces to ~1 partition; every downstream broadcast join (the
    # bucket join, then the doc expansion) STREAMS through that side,
    # so without respreading, the millions of emitted pair rows would
    # flow through one task (measured: 790k rows/s single-task vs the
    # full 32-way machine). Explicit repartition keeps the fan-out
    # stages wide; at 100 TB the groups frame is large enough that the
    # scan itself provides width and this coalesces into the shuffle.
    # ROUND-ROBIN, not gid-keyed: the upstream reps aggregate is
    # already hash-partitioned by gid, so a gid-keyed repartition is
    # optimizer-eliminated as redundant and AQE then coalesces the
    # aggregate's read to 1-3 tasks — the CPU-dense minhash projection
    # below ran on 3 of 32 cores (measured 3.2-6.0 s vs 1.2-1.5 s for
    # the sigs build at sf0.1). No downstream op keys on gid's
    # partitioning (the bucket join reshuffles by band/sig), so the
    # keyed form bought nothing.
    groups = groups.repartition(
        groups.sparkSession.sparkContext.defaultParallelism
    )
    return _minhash_band_sigs(groups, ["gid", "rep"], "any_text", bands).select(
        "gid", "rep", "sigs", "band", "sig"
    )


def _lsh_group_pairs(
    groups: DataFrame, bands: int, max_bucket: int | None = None
) -> DataFrame:
    """Distinct cross-group candidate pairs (ga, gb), with their reps
    (ra, rb), ra < rb, via the banded bucket join over unique token
    sets.

    First-match-band dedup: a pair colliding in k bands is joined k
    times; each joined row keeps the pair iff its band is the FIRST
    band where the two signature arrays agree (joins.first_match_band
    over literal sigs[j] compares), so every pair survives exactly
    once and no dedup shuffle exists at all.

    `max_bucket` is the scale valve for pathological corpora: a
    (band, sig) bucket of k unique sets emits k²/2 pairs, so one
    boilerplate-heavy signature can dominate the whole join. With a
    cap, oversized buckets are excluded BEFORE the self-join and the
    drop is LOGGED with bucket count and forgone-pair estimate —
    never a silent cap. Off by default: the oracle-matched operators
    (d07/d09) need the exact pair set; a 100 TB run sets it to keep
    the worst bucket bounded. Capped mode dedups pairs with a
    distinct() instead of the first-match predicate: a pair whose
    FIRST agreeing band was capped away must still surface through a
    surviving later band, which first-match (computed over the full
    signature arrays) would wrongly drop.
    """
    # ALWAYS materialize the signature frame: the self-join consumes it
    # on BOTH sides, and ReusedExchange only dedups up to the exchange
    # boundary — the minhash projection (16 interpreted HOF transforms
    # per group, the most CPU-dense expression in the pipeline) sits
    # ABOVE the groups exchange and would run once per side. In capped
    # mode the checkpoint also lets the bucket census and the join
    # read one run.
    sigs = _group_band_sigs(groups, bands).localCheckpoint()
    if max_bucket is not None:
        sigs = cap_buckets(sigs, ["band", "sig"], max_bucket)
    # The chunk valve: the top few (band, sig) buckets hold most of the
    # pairs, and a plain join generates each inside one task. Sig rows
    # are thin, so the default C (= cores) costs negligible replicated
    # bytes, and the checkpointed frame is already spread (see
    # _group_band_sigs), so the probe needs no exchange.
    joined = chunked_self_join(
        sigs, key_cols=["band", "sig"], order_col="rep", chunk_col="gid"
    )
    pairs = [
        F.col("a.gid").alias("ga"),
        F.col("b.gid").alias("gb"),
        F.col("a.rep").alias("ra"),
        F.col("b.rep").alias("rb"),
    ]
    if max_bucket is not None:
        # surviving-band collisions must all count; dedup by value
        return joined.select(*pairs).distinct()
    first = first_match_band(
        "a.band", bands, lambda j: F.col("a.sigs")[j] == F.col("b.sigs")[j]
    )
    return joined.filter(first).select(*pairs)


def _lsh_doc_pairs(
    spark: SparkSession,
    sf_dir: str,
    bands: int,
    max_bucket: int | None = None,
    tokd: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate DOC pairs (a_id < b_id), dedup-first.

    Union of (1) all pairs inside each identical-token-set group —
    identical sets share every band signature, so the doc-level LSH
    emits every within-group pair by construction — and (2) the
    cross-group rep-pair set expanded back to docs through the
    membership mapping. The two legs are disjoint (same-group vs
    different-group) and each emits a pair exactly once, so no
    distinct is needed. Expansion is join-based: at 100 TB both legs
    are hash joins on gid; the small group-pair frame broadcasts.
    """
    # One tokenize + canon-digest pass feeds EVERYTHING downstream: the
    # group frame (→ signatures → bucket join) and the membership map's
    # four join legs (within-group self-join + both sides of the cross
    # expansion). Without materialization each consumer re-tokenizes +
    # re-digests the corpus — previously groups and the map each ran
    # their own pass (~1.5 s of recompute at sf0.1 on top of the
    # per-leg cost). The checkpoint pins only (doc_id, gid) — see
    # _canon_base on why the text column must NOT ride along.
    base = _canon_base(spark, sf_dir, tokd=tokd).localCheckpoint()
    groups = _canon_groups(spark, sf_dir, base=base)
    gp = _lsh_group_pairs(groups, bands, max_bucket)
    m = _doc_gid_map(spark, sf_dir, base=base)
    ma, mb = m.alias("ma"), m.alias("mb")
    within = (
        ma.join(
            mb,
            (F.col("ma.gid") == F.col("mb.gid"))
            & (F.col("ma.doc_id") < F.col("mb.doc_id")),
        )
        .select(F.col("ma.doc_id").alias("a_id"), F.col("mb.doc_id").alias("b_id"))
    )
    cross = (
        gp.join(ma, F.col("ga") == F.col("ma.gid"))
        .join(mb, F.col("gb") == F.col("mb.gid"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("a_id"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("b_id"),
        )
    )
    return within.union(cross)


def d07_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs.

    Pipeline: dedup identical token sets (_canon_groups) → K=16
    portable min-hashes (seeded md5) per UNIQUE set → 2 bands × 8 rows
    → band-signature bucket join with first-match-band dedup
    (_lsh_group_pairs) → expand group pairs back to doc pairs
    (_lsh_doc_pairs). The bucket join is the scale move: pairs form
    only within identical (band, signature) buckets, never across the
    full n² space — and after dedup-first, only across unique token
    sets, so dup-heavy corpora (the 100 TB web-crawl case) pay the
    quadratic bucket cost once per distinct set, not once per copy.
    Same pair set as the doc-level construction; the oracle mirrors
    the doc-level form and hash-matches exactly.
    """
    return _lsh_doc_pairs(
        spark, sf_dir, MINHASH_BANDS, max_bucket=_lsh_max_bucket()
    ).orderBy("a_id", "b_id")


def _duck_minhash_sigs(bands: int, mh_comment: str = "") -> str:
    """The DuckDB replay of _minhash_band_sigs at `bands`: the CTE chain
    tok → h → seeded → mh → sigs(doc_id, band, sig), without the leading
    WITH so an oracle can make it RECURSIVE and append its own CTEs.
    `mh_comment` is SQL comment text opening the mh CTE."""
    return f"""tok AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok
), seeded AS (
  SELECT doc_id, h, unnest(range(0, {MINHASH_SEEDS})) AS seed FROM h
), mh AS (
{mh_comment}  SELECT doc_id, seed,
         min((h * (999961 + 2 * seed) + 997 * (seed + 1)) % {MINHASH_P}) AS minh
  FROM seeded GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, seed // {MINHASH_SEEDS // bands} AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
  FROM mh GROUP BY doc_id, band
)"""


# The candidate pairs over `sigs`: docs sharing any band signature.
_DUCK_SIG_PAIRS = """SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"""


_D07_MH_COMMENT = """  -- universal hash family over the base hash: (A_j*h + B_j) mod P,
  -- A_j = 999961 + 2*seed, B_j = 997*(seed+1) — matches MINHASH_A/B
"""
ORACLE["d07_minhash_lsh"] = f"""
WITH {_duck_minhash_sigs(MINHASH_BANDS, _D07_MH_COMMENT)}
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM sigs a JOIN sigs b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
ORDER BY a_id, b_id
"""


def d08_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over distinct tokens: per bit j, sum +1/-1 over
    token hashes' bit j; bit set iff the sum is >= 0. Integer
    arithmetic end to end — exactly reproducible on both engines."""
    return simhash_frame(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def simhash_frame(d: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """d08's per-frame body, UNSORTED — (doc_id, text) in, (doc_id,
    simhash) out: per-bit majority over the distinct tokens' md5-prefix
    hashes at `bits` width, ties set the bit. d32 feeds this straight
    into the banded pair join; the trailing orderBy exists only for
    d08's oracle determinism and would cost a pointless range exchange
    under the join. `bits` must be a multiple of 4 (whole md5 hex
    chars) and ≤ 60 (hash60's exactly-representable-long bound); size
    it with functions.sizing.suggest_simhash_bits — the default 32
    saturates its band values from ~10^5 docs (COVERAGE.md
    "simhash100x")."""
    if not (4 <= bits <= 60 and bits % 4 == 0):
        raise ValueError(f"bits={bits} must be a multiple of 4 in [4, 60]")
    nhex = bits // 4
    # Shuffle economics: the whole simhash is computed within the row
    # (hash array → per-bit majority → bit recombination), so the
    # operator is embarrassingly parallel — zero shuffles. The hash
    # array is materialized once per row: each of the `bits` bit tests
    # references it, and lambdas get no CSE (see d22).
    d = d.select(
        "doc_id",
        F.transform(
            distinct_tokens("text"),
            lambda t: F.conv(F.substring(F.md5(t), 1, nhex), 16, 10).cast("long"),
        ).alias("hs"),
    )
    hashes = F.col("hs")
    n = F.size(hashes)

    def bit_set(j):
        # bit_get, unlike shiftright, accepts a lambda-variable position
        ones = F.size(F.filter(hashes, lambda h: F.bit_get(h, j) == 1))
        return 2 * ones >= n  # ⇔ sum of +1/-1 contributions >= 0

    # 2^j is a power of two, exact in a double for j ≤ 59
    bitvals = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda j: F.when(bit_set(j), F.pow(F.lit(2.0), j).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return d.select(
        "doc_id",
        F.aggregate(bitvals, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "simhash"
        ),
    )


ORACLE["d08_simhash"] = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, unnest(range(0, {SIMHASH_BITS})) AS bit, h FROM h
), contrib AS (
  SELECT doc_id, bit,
         CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS contrib
  FROM bits
), sums AS (
  SELECT doc_id, bit, sum(contrib) AS s FROM contrib GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM sums
GROUP BY doc_id
ORDER BY doc_id
"""


def d09_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (2-token shingle) Jaccard over the MinHash-LSH
    candidate pairs — the LSH-then-verify split every scale dedup
    pipeline uses (same structure as d07→d10): LSH bounds the pair
    count, the verify step computes exact Jaccard only on candidates.

    Shuffle economics: each doc's distinct shingle SET stays an
    in-row array (never exploded); candidates join against it twice
    by doc_id and the intersection is a single in-row
    array_intersect — so total work is O(candidates), not
    O(pairs-sharing-a-shingle), which degenerates quadratically on
    low-vocabulary corpora (this corpus: ~1e8 intermediate pairs at
    sf0.1 the all-pairs way). `d09b_jaccard_allpairs` keeps the
    exhaustive version as the opt-in ground-truth mode.

    Jaccard is a ratio of integers — bit-exact on both engines.

    (A sequence-level verify-before-expand variant — dedup docs by
    token SEQUENCE, verify group pairs, expand survivors — was built
    and measured 2.5x SLOWER here: this corpus duplicates at the
    near-dup level, not the exact-sequence level (4992 sequence groups
    for 5000 docs), so the expansion shrank nothing while the md5
    string join keys cost more than long doc_ids. It wins only when
    exact duplication is heavy; the dedup-first LSH already captures
    that win at the candidate stage.)"""
    return jaccard_pairs(
        spark,
        sf_dir,
        bands=JACCARD_BANDS,
        threshold=JACCARD_THRESHOLD,
        max_bucket=_lsh_max_bucket(),
    )


def jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    bands: int = JACCARD_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int | None = None,
) -> DataFrame:
    """The d09 LSH-then-verify pipeline with the two deployment dials
    exposed: `bands` (candidate recall/volume — pick with
    functions.sizing.suggest_bands for the target `threshold`, then
    measure) and `threshold` (the exact-Jaccard verify cut). d09
    itself pins (JACCARD_BANDS, JACCARD_THRESHOLD) for oracle
    comparability; scripts/run_scale_spot.py measures an alternative
    banding through this entry point."""
    # spread_scan: per-doc shingling + hashing is per-row CPU, and the
    # small corpus file scans as one task (see tables.spread_scan).
    d = spread_scan(load_table(spark, sf_dir, "documents"))
    # r13 opt: tokenize ONCE for both stages — the shingle build here
    # and the canon-digest pass inside _lsh_doc_pairs each ran their
    # own regex split of the corpus; the pinned (doc_id, toks) frame
    # feeds both. Lazy checkpoint whose materializing job is the EAGER
    # canon-base checkpoint inside _lsh_doc_pairs (it consumes tokd at
    # construction time, before the shs checkpoint's job runs); the shs
    # build then reads the cached frame (r13 ADVICE attribution fix).
    # Footprint note (r13 ADVICE): unlike the deliberately narrow
    # (doc_id, gid) base checkpoint, this pin caches corpus-sized token
    # ARRAYS — the measured trade (one disk-backed materialization vs
    # two regex tokenize passes) holds because localCheckpoint spills
    # MEMORY_AND_DISK; budget ~tokenized-corpus bytes for it at scale.
    tokd = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint(
        eager=False
    )
    # Shingles are carried as HASHED int arrays (portable hash32, same
    # expression in the oracle): the candidate-verify joins ship one
    # array per pair side, and ints cut that shuffle ~3× vs strings.
    # Jaccard over the hashed sets equals Jaccard over the string sets
    # on both engines by construction (identical hash family).
    shs = tokd.select(
        "doc_id",
        F.array_distinct(
            # single-arg lambda: hash32 has an optional seed param, and
            # a 2-arg callable would get the (element, index) form.
            # toks pre-projected — no CSE inside lambdas (see d22).
            F.transform(shingles(F.col("toks"), JACCARD_NGRAM), lambda s: hash32(s))
        ).alias("shs"),
    ).localCheckpoint()  # feeds BOTH broadcast legs: shingle+digest once
    # Candidates come from the shared dedup-first LSH helper — NOT a
    # re-run of d07 (round-2's d09 re-executed d07's whole pipeline
    # internally; 51 s at sf0.1) — at d09's own recall-tuned banding
    # (JACCARD_BANDS x 4): 2x8 detects J≈0.1 token-set pairs with
    # P≈2e-8, measured 0.659 recall vs the d09b ground truth; 4x4
    # measures 0.933 (d09r_jaccard_recall scores this every round).
    # The verify stage is memory-bandwidth-bound (each candidate row
    # materializes both shingle arrays through the broadcast joins),
    # so the candidate stream is respread to full width first — AQE's
    # byte-based coalescing sees "small" shuffle partitions and would
    # run the array-heavy verify on a fraction of the cores.
    cand = _lsh_doc_pairs(spark, sf_dir, bands, max_bucket=max_bucket, tokd=tokd)
    # r14 opt (guide §2.4): the candidate stream used to be
    # repartition()'d to full width before the verify — but the verify
    # is two BROADCAST joins, so there is no exchange between the
    # expansion joins and the verify for AQE's byte-based coalescing to
    # shrink; the repartition was the pipeline's ONLY 7.1M-row shuffle,
    # and the A/B read it as pure cost (no-repartition won 5/5
    # interleaved passes, min 6.93 s vs 8.46 s — and the shuffle is
    # what host throttle phases amplify: the repartition form spiked to
    # 28-41 s in the same session while no-repartition held 6.9-9.4 s).
    # The expansion joins inherit the spread_scan width from the canon
    # base, so the verify already runs at full parallelism. The
    # web-scale fallback below keeps the respread: its verify carries
    # full shingle arrays, where partition balance is worth one
    # exchange.
    # r14 opt (guide §1.2-2, §2.3): the verify step is O(candidates),
    # and candidates outnumber docs ~1400× here (7.12M pairs for 5,000
    # docs at sf0.1 — dup-heavy corpus, LSH prunes little), so per-PAIR
    # cost is everything. The old form joined each pair against both
    # docs' hashed shingle ARRAYS (~51 ints average) and ran
    # array_intersect per pair — a per-row hash-set build over ~100
    # elements, plus two ~200-byte array copies through the broadcast
    # joins (~11 GB of array materialization at sf0.1). But the corpus'
    # DISTINCT shingle vocabulary is tiny (931 hashes at sf0.1), so
    # each doc's shingle SET packs into a ceil(v/64)-long BITMAP via a
    # driver-collected hash→bit dictionary, and the exact intersection
    # size is a flat codegen'd sum of bit_count(a&b) over the words —
    # no per-pair allocation, no hash set, ~8× less broadcast payload.
    # Bit-exactness: |A∩B| is the same integer either way, |A| / |B|
    # ride along as precomputed set sizes, and the jaccard double is
    # the identical division + round expression — the oracle hash
    # cannot move. Scale valve: the dictionary must stay
    # driver/broadcast-sized, so vocabularies beyond
    # D09_BITSET_VOCAB_CAP (web-scale text, where shingle vocab ~
    # corpus size) keep the array_intersect form — the probe reads the
    # pinned shs frame, one small job (limit cap+1, so an over-cap
    # vocab never collects more than cap+1 rows).
    vocab = sorted(
        r[0]
        for r in shs.select(F.explode("shs").alias("h"))
        .distinct()
        .limit(D09_BITSET_VOCAB_CAP + 1)
        .collect()
        if r[0] is not None
    )
    if len(vocab) <= D09_BITSET_VOCAB_CAP:
        n_words = max(1, (len(vocab) + 63) // 64)
        # one JVM call for the whole dictionary (F.lit per entry is a
        # Py4J round trip each)
        idx_map = F.expr(
            "map(" + ", ".join(f"{h}L, {i}" for i, h in enumerate(vocab)) + ")"
        )
        # bit 63 is long MIN_VALUE in two's complement — 1<<63 would
        # overflow the signed-long literal the JVM side parses
        bit_lit = F.lit([(1 << k) if k < 63 else -(1 << 63) for k in range(64)])

        def word(w: int) -> Column:
            # OR of 1<<(idx%64) over this word's indices; the 64-entry
            # bit-value literal avoids a dynamic shiftleft (Python-API
            # shiftleft takes only a literal shift count).
            return F.aggregate(
                F.filter("idx", lambda x: F.shiftright(x, 6) == F.lit(w)),
                F.lit(0).cast("long"),
                lambda acc, x: acc.bitwiseOR(F.element_at(bit_lit, (x % 64) + 1)),
            )

        # The index array is projected ONCE, so the dictionary literal
        # appears once in the plan, not once per word: analysis stays
        # linear in the vocabulary. Doc-count-sized; pinned so the two
        # broadcast legs don't re-run the map lookups per side.
        bits = (
            shs.select(
                "doc_id",
                F.size("shs").alias("n"),
                F.transform("shs", lambda h: F.element_at(idx_map, h)).alias("idx"),
            )
            .select("doc_id", "n", F.array(*[word(w) for w in range(n_words)]).alias("bm"))
            .localCheckpoint()
        )
        a = F.broadcast(
            bits.select(
                F.col("doc_id").alias("a_id"),
                F.col("n").alias("a_n"),
                F.col("bm").alias("a_bm"),
            )
        )
        b = F.broadcast(
            bits.select(
                F.col("doc_id").alias("b_id"),
                F.col("n").alias("b_n"),
                F.col("bm").alias("b_bm"),
            )
        )
        common = None
        for w in range(n_words):
            term = F.bit_count(F.get("a_bm", w).bitwiseAND(F.get("b_bm", w)))
            common = term if common is None else common + term
        j = common.cast("double") / (F.col("a_n") + F.col("b_n") - common)
    else:
        # Web-scale vocabulary: keep the array_intersect verify, and
        # respread the candidate stream first — this verify carries
        # full shingle arrays per pair, so partition balance is worth
        # one exchange of the thin (a_id, b_id) rows.
        cand = cand.repartition(spark.sparkContext.defaultParallelism)
        # Broadcast the doc→shingle-set map: candidates outnumber docs
        # ~50× on a dup-heavy corpus, and a shuffle join would ship the
        # a-side array through the second exchange 2.4M times.
        # Broadcast keeps the pair list in place — each executor maps
        # pairs to Jaccard against the in-memory set dictionary. (At
        # corpus sizes where the dictionary outgrows broadcast, drop
        # the hints: the join keys are already the LSH pair columns and
        # AQE picks the shuffle form.)
        a = F.broadcast(shs.select(F.col("doc_id").alias("a_id"), F.col("shs").alias("a_shs")))
        b = F.broadcast(shs.select(F.col("doc_id").alias("b_id"), F.col("shs").alias("b_shs")))
        common = F.size(F.array_intersect("a_shs", "b_shs"))
        j = common.cast("double") / (F.size("a_shs") + F.size("b_shs") - common)
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("jaccard", F.round(j, 6))
        .filter(j >= threshold)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


def doc_band_sigs(docs: DataFrame, bands: int = JACCARD_BANDS) -> DataFrame:
    """Per-DOCUMENT MinHash band signatures — the persistable near-dup
    fingerprint store schema: (doc_id, band, sig, mhs, n_bands), where
    `mhs` is the full K=MINHASH_SEEDS minhash array the estimated-
    Jaccard verify folds over and `n_bands` stamps the banding for
    the structural mismatch guard. Same builder as the d07/d09
    candidates (_minhash_band_sigs); the grain is doc- not canon-group
    because an incremental store must answer "is THIS incoming doc a
    near-dup", not re-derive corpus-wide groups. `docs` needs
    (doc_id, text).

    Default banding is JACCARD_BANDS (4x4, the d09 recall tuning) —
    the same default neardup_store_sink uses. CAUTION: a store and a
    batch built at DIFFERENT bandings produce (band, sig) keys that
    essentially never collide — near-dups would silently pass as
    novel. neardup_store_sink records its banding in the store's
    manifest meta and refuses a mismatched reopen; callers composing
    these pieces directly must carry the banding themselves."""
    # n_bands rides every row so neardup_against_store can refuse a
    # banding-mismatched pair of frames structurally (mismatched
    # bandings never collide — they would silently find nothing).
    return _minhash_band_sigs(docs, ["doc_id"], "text", bands).select(
        "doc_id", "band", "sig", "mhs", F.lit(bands).alias("n_bands")
    )


def neardup_against_store(
    batch_sigs: DataFrame,
    store_sigs: DataFrame,
    est_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup — d28's store pattern upgraded from exact
    hashes to MinHash: candidate (batch, store) pairs form where any
    band signature collides, then the MinHash-estimated Jaccard (the
    share of agreeing seeds — unbiased estimator of J) gates them.
    Returns (doc_id, store_id, est_jaccard), one row per pair. Both
    inputs are doc_band_sigs frames, which stamp their banding in
    `n_bands`; a row-filtered subset is fine as long as docs keep all
    their band rows, because a pair is emitted only from its first
    agreeing band. The store side is persisted; at 100 TB it is a
    snapshot table bucketed on (band, sig), making the store side of
    the candidate join shuffle-free, and the batch side is
    micro-batch-sized — the topology of streaming/dedup.dedup_store_sink
    with a band-bucket join in place of the hash anti-join.

    `max_bucket` is the d07 valve: store-side (band, sig) buckets
    larger than the cap are EXCLUDED from candidate generation with a
    warning (never silently) — one boilerplate signature colliding
    with everything is the classic skew bomb in production near-dup.
    Capped mode dedups the thin verified pairs instead of applying the
    first-match predicate: a pair whose first agreeing band was capped
    away must still surface through a surviving later band.
    """
    # structural banding guard: frames built at different bandings
    # produce (band, sig) keys that essentially never collide, and the
    # result would be a silent empty candidate set — refuse instead.
    # head() reads a single row per side (one row-group at any scale).
    def _bands_of(df: DataFrame) -> int | None:
        r = df.select("n_bands").head()
        return None if r is None else int(r["n_bands"])

    ba, bs = _bands_of(batch_sigs), _bands_of(store_sigs)
    if ba is not None and bs is not None and ba != bs:
        raise ValueError(
            f"neardup_against_store: batch signatures use {ba} bands but "
            f"the store uses {bs} — mismatched bandings never collide; "
            "rebuild one side with the other's banding"
        )
    store = store_sigs
    if max_bucket is not None:
        store = cap_buckets(store, ["band", "sig"], max_bucket)
    cand = batch_sigs.select("band", "sig", "doc_id", "mhs").join(
        store.select(
            "band", "sig", F.col("doc_id").alias("store_id"), F.col("mhs").alias("store_mhs")
        ),
        ["band", "sig"],
    )
    if max_bucket is None:
        # an empty side (bands unknown) joins to nothing
        bands = ba or bs or 1
        rows = MINHASH_SEEDS // bands

        def band_agrees(j: int) -> Column:
            return reduce(
                Column.__and__,
                [F.col("mhs")[k] == F.col("store_mhs")[k] for k in range(j * rows, (j + 1) * rows)],
            )

        cand = cand.filter(first_match_band("band", bands, band_agrees))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("mhs"), F.col("store_mhs"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    est = agree.cast("double") / F.lit(MINHASH_SEEDS)
    pairs = cand.filter(est >= est_threshold).select(
        "doc_id", "store_id", F.round(est, 6).alias("est_jaccard")
    )
    # capped: surviving-band collisions must all count; dedup by value
    return pairs if max_bucket is None else pairs.distinct()


# The shared candidate CTE chain (at d09's 4x4 banding) + exact
# verify over list_intersect.
ORACLE["d09_ngram_jaccard"] = f"""
WITH {_duck_minhash_sigs(JACCARD_BANDS)}, cand AS (
  {_DUCK_SIG_PAIRS}
), shs AS (
  SELECT doc_id, list_distinct(list_transform(
    list_transform(range(1, len({_DUCK_TOKS})),
                   i -> {_DUCK_TOKS}[i] || ' ' || {_DUCK_TOKS}[i+1]),
    s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS shs
  FROM documents
), verified AS (
  SELECT c.a_id, c.b_id,
         CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
           / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS j
  FROM cand c
  JOIN shs a ON a.doc_id = c.a_id
  JOIN shs b ON b.doc_id = c.b_id
)
SELECT a_id, b_id, round(j, 6) AS jaccard
FROM verified
WHERE j >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


def d09b_jaccard_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth mode: exhaustive n-gram Jaccard via the inverted
    shingle→doc self-join (pairs form only where a shingle is shared).
    Exact recall — but the within-shingle pair count is quadratic on
    low-vocabulary corpora, so this is the small-corpus/audit tool;
    d09_ngram_jaccard (LSH-verified) is the scale path."""
    d = load_table(spark, sf_dir, "documents")
    # token array materialized first — no CSE inside lambdas (see d22)
    sh = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(F.col("toks"), JACCARD_NGRAM))
        ).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    j = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", F.round(j, 6))
        .filter(j >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


ORACLE["d09b_jaccard_allpairs"] = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS sh
  FROM t
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


def d09r_jaccard_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scoring for the LSH-verified dedup path: d09's
    detected pair set vs d09b's exhaustive ground truth, as a single
    (n_true, n_detected, n_hit, recall) row — the s10_ann_recall
    pattern (similarity.py) applied to near-dup detection, so the
    driver *scores* recall instead of it living in a docstring claim.

    Precision is structurally 1.0 (d09 verifies exact Jaccard on every
    candidate, so detected ⊆ true); recall is the metric that moves
    with banding. 4x4 banding measures 0.933 at sf0.01.
    """
    gt = d09b_jaccard_allpairs(spark, sf_dir).select(
        "a_id", "b_id", F.lit(1).alias("in_true")
    )
    det = d09_ngram_jaccard(spark, sf_dir).select(
        "a_id", "b_id", F.lit(1).alias("in_det")
    )
    both = gt.join(det, ["a_id", "b_id"], "full_outer")
    n_true = F.count("in_true")
    n_hit = F.count(F.when(F.col("in_true").isNotNull() & F.col("in_det").isNotNull(), 1))
    return both.agg(
        n_true.alias("n_true"),
        F.count("in_det").alias("n_detected"),
        n_hit.alias("n_hit"),
        F.round(n_hit.cast("double") / n_true, 6).alias("recall"),
    )


# The two pair-set oracles composed: full-outer join, then the same
# count/ratio aggregates. Nested WITH blocks live inside parenthesized
# subqueries (DuckDB-legal), so the component SQL is reused verbatim.
ORACLE["d09r_jaccard_recall"] = """
WITH gt AS (SELECT a_id, b_id FROM ({gt_sql})),
     det AS (SELECT a_id, b_id FROM ({det_sql})),
     j AS (
       SELECT gt.a_id AS ta, det.a_id AS da
       FROM gt FULL OUTER JOIN det
         ON gt.a_id = det.a_id AND gt.b_id = det.b_id
     )
SELECT count(ta)                                            AS n_true,
       count(da)                                            AS n_detected,
       count(CASE WHEN ta IS NOT NULL AND da IS NOT NULL THEN 1 END) AS n_hit,
       round(CAST(count(CASE WHEN ta IS NOT NULL AND da IS NOT NULL THEN 1 END) AS DOUBLE)
             / count(ta), 6)                                AS recall
FROM j
""".format(
    gt_sql=ORACLE["d09b_jaccard_allpairs"].replace("ORDER BY a_id, b_id", ""),
    det_sql=ORACLE["d09_ngram_jaccard"].replace("ORDER BY a_id, b_id", ""),
)


BPE_CHUNK = "[a-z]{1,3}"  # greedy subword chunker — engine-portable


def d11_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token counting: a greedy fixed-width chunk
    regex stands in for a merged BPE vocabulary (real BPE is a learned
    merge table; the *pipeline shape* — regex pre-tokenize, per-doc
    subword stats, corpus fan-in — is identical). tokens_per_word is
    the compression-ratio diagnostic used to spot tokenizer-hostile
    documents. Single-alternative greedy regex keeps Java regex and
    RE2 behavior identical."""
    d = load_table(spark, sf_dir, "documents")
    sub = F.regexp_extract_all(F.col("text"), F.lit(BPE_CHUNK), 0)
    n_words = F.size(tokens("text"))
    return d.select(
        "doc_id",
        F.size(sub).alias("n_subwords"),
        F.size(F.array_distinct(sub)).alias("n_distinct_subwords"),
        F.round(F.size(sub).cast("double") / n_words, 6).alias("tokens_per_word"),
    ).orderBy("doc_id")


ORACLE["d11_bpe_tokens"] = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{BPE_CHUNK}')) AS INTEGER) AS n_subwords,
       CAST(len(list_distinct(regexp_extract_all(text, '{BPE_CHUNK}'))) AS INTEGER) AS n_distinct_subwords,
       round(CAST(len(regexp_extract_all(text, '{BPE_CHUNK}')) AS DOUBLE)
             / len({_DUCK_TOKS}), 6) AS tokens_per_word
FROM documents
ORDER BY doc_id
"""


CC_MAX_ITERS = 50
CC_EDGES_PER_PARTITION = 500_000  # undirected-edge rows per shuffle partition


def d12_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the MinHash-LSH
    candidate graph (d07's pairs as edges), by iterative min-label
    propagation — each round every node takes the minimum label among
    itself and its neighbours, until fixpoint. Documents in no
    candidate pair are their own singleton cluster.

    This is the iterative half of dedup-at-scale: LSH emits pairs,
    components turn pairs into keep/drop groups. Each round is one
    shuffle-join + one aggregation; `localCheckpoint` truncates the
    lineage so round N doesn't replay rounds 1..N-1 (and at 100 TB
    keeps the DAG from growing unboundedly). Rounds ≈ graph diameter
    — small for near-dup families. The fixpoint is the exact
    component minimum, so results are deterministic and the DuckDB
    oracle (recursive-CTE transitive closure) matches value-for-value.

    Dedup-first, applied to the GRAPH (round 4): the doc-level edge
    list is quadratic in dup-cluster size — a 10x-replicated corpus
    measured 238M doc pairs, and iterating CC over that exceeded the
    single-node budget. But identical token sets form cliques whose
    members all share the group rep's fate, so CC runs over the GROUP
    graph (one node per distinct token set, one edge per colliding
    group pair — 67x fewer edges on that corpus) and the per-doc
    labels come from one membership join at the end. Component minima
    are preserved exactly: every doc >= its group's rep (rep = min
    doc_id of the group), so min-over-group-reps = min-over-docs of
    the component.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    base = _canon_base(spark, sf_dir).localCheckpoint()
    groups = _canon_groups(spark, sf_dir, base=base).localCheckpoint()
    g = groups.select("gid", "rep")
    # group-level candidate edges as the integer rep ids CC iterates on
    edges = (
        _lsh_group_pairs(groups, MINHASH_BANDS, _lsh_max_bucket())
        .select(F.col("ra").alias("a_id"), F.col("rb").alias("b_id"))
        .localCheckpoint()
    )
    # Pin the edge list's partitioning to the join key: every round's
    # und⋈labels join then reuses it instead of re-shuffling the
    # (static) edges. Partition count scales with the measured edge
    # count (the candidate graph's size is data-determined — dup-heavy
    # corpora produce millions of pairs, clean ones a handful), capped
    # so tiny graphs don't fragment into empty tasks.
    n_und = 2 * edges.count()
    parts = max(8, min(2048, n_und // CC_EDGES_PER_PARTITION + 1))
    und = (
        edges.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .union(edges.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
        .repartition(parts, "u")
        .localCheckpoint()
    )
    # CC nodes are the group reps, not the docs
    labels = g.select(F.col("rep").alias("doc_id"), F.col("rep").alias("lbl")).localCheckpoint()
    # Labels only ever decrease, so the total label sum is strictly
    # monotone until fixpoint — an O(1)-row aggregate detects
    # convergence without a self-join per round.
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(CC_MAX_ITERS):
        nbr_min = (
            und.join(labels, und.u == labels.doc_id)
            .groupBy("v")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.v, "left")
            .select(
                "doc_id",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"label propagation did not converge in {CC_MAX_ITERS} rounds")
    # expand group labels to docs: one membership join; docs outside
    # every group (token-less — no signature, no edges) are their own
    # singleton cluster, matching the oracle's reach base case.
    memb = (
        _doc_gid_map(spark, sf_dir, base=base)
        .join(F.broadcast(g), "gid")
        .select("doc_id", "rep")
    )
    doc_labels = (
        docs.join(memb, "doc_id", "left")
        .join(
            labels.select(F.col("doc_id").alias("rep"), "lbl"), "rep", "left"
        )
        .select("doc_id", F.coalesce("lbl", F.col("doc_id")).alias("lbl"))
    )
    sizes = doc_labels.groupBy("lbl").agg(F.count("*").alias("n_members"))
    return (
        doc_labels.join(sizes, "lbl")
        .select("doc_id", F.col("lbl").alias("cluster_id"), "n_members")
        .orderBy("doc_id")
    )


ORACLE["d12_dup_clusters"] = f"""
WITH RECURSIVE {_duck_minhash_sigs(MINHASH_BANDS)}, e AS (
  {_DUCK_SIG_PAIRS}
), und AS (
  SELECT a_id AS u, b_id AS v FROM e UNION SELECT b_id, a_id FROM e
), reach(s, t) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.s, und.v FROM reach r JOIN und ON und.u = r.t
), cl AS (
  SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s
), sizes AS (
  SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY cluster_id
)
SELECT doc_id, cluster_id, n_members
FROM cl JOIN sizes USING (cluster_id)
ORDER BY doc_id
"""


SAMPLE_RATES = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}  # percent
SAMPLE_DEFAULT_RATE = 10


def d13_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the training-data mixing
    primitive: each source keeps a configured fraction, selected by
    hash(doc_id) mod 100 rather than rand(), so the sample is exactly
    reproducible across runs/engines/retries (a property rand()-based
    TABLESAMPLE cannot give a distributed, restartable pipeline).
    Embarrassingly parallel: the filter evaluates in the scan stage,
    no shuffle before the summary aggregation."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for src, r in SAMPLE_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    kept = d.filter(hash32(F.col("doc_id").cast("string")) % 100 < rate)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .orderBy("source")
    )


_rate_sql = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {r}" for s, r in SAMPLE_RATES.items()
) + f" ELSE {SAMPLE_DEFAULT_RATE} END"
ORACLE["d13_stratified_sample"] = f"""
SELECT source,
       count(*)      AS n_kept,
       min(doc_id)   AS first_doc,
       max(doc_id)   AS last_doc,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < {_rate_sql}
GROUP BY source
ORDER BY source
"""


def d14_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pipeline: collapse whitespace → drop
    stopwords (the EN marker set) → fingerprint the cleaned text.
    The standard preprocessing pass before tokenization/dedup, as one
    narrow projection — no shuffle, evaluates in the scan stage; the
    reduction ratio flags boilerplate-heavy documents."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    kept = F.filter(toks, lambda x: ~x.isin(*EN_MARKERS))
    cleaned = F.array_join(kept, " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(kept).alias("n_kept"),
        F.round(F.size(kept).cast("double") / F.size(toks), 6).alias("kept_ratio"),
        F.md5(cleaned).alias("cleaned_md5"),
    ).orderBy("doc_id")


ORACLE["d14_normalize_text"] = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks,
         list_filter({_DUCK_TOKS}, x -> x NOT IN {_markers_sql}) AS kept
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(kept) AS INTEGER) AS n_kept,
       round(CAST(len(kept) AS DOUBLE) / len(toks), 6) AS kept_ratio,
       md5(array_to_string(kept, ' ')) AS cleaned_md5
FROM t
ORDER BY doc_id
"""


def d15_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check (decontamination pass): per
    source, how many documents' exact text also appears under a
    DIFFERENT source. Shape: hash → one aggregation marking hashes
    seen in >1 source → semi-join back → per-source rates. Both
    shuffles key on the text hash / source — at 100 TB this is two
    map-side-combined aggregations, and swapping md5 for a MinHash
    band key upgrades it to near-dup contamination with the same
    topology."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    cross = (
        d.groupBy("h")
        .agg(F.countDistinct("source").alias("n_sources"))
        .filter(F.col("n_sources") > 1)
        .select("h")
    )
    flagged = d.join(cross, "h", "left_semi")
    per_source = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    contam = flagged.groupBy("source").agg(F.count("*").alias("n_contaminated"))
    return (
        per_source.join(contam, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)).cast("double") / F.col("n_docs"),
                6,
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


ORACLE["d15_contamination"] = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
), cross_h AS (
  SELECT h FROM d GROUP BY h HAVING count(DISTINCT source) > 1
), flagged AS (
  SELECT d.source FROM d WHERE d.h IN (SELECT h FROM cross_h)
), per_source AS (
  SELECT source, count(*) AS n_docs FROM d GROUP BY source
), contam AS (
  SELECT source, count(*) AS n_contaminated FROM flagged GROUP BY source
)
SELECT p.source, p.n_docs,
       coalesce(c.n_contaminated, 0) AS n_contaminated,
       round(CAST(coalesce(c.n_contaminated, 0) AS DOUBLE) / p.n_docs, 6) AS contamination_rate
FROM per_source p LEFT JOIN contam c USING (source)
ORDER BY source
"""


MIX_TARGET = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def d16_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gates (the Gopher/MassiveText rules
    family): per document, the duplicate-token fraction and the share
    of tokens covered by the single most frequent bigram. Both are
    classic boilerplate/spam signals. Entirely in-row over the token
    array (nested higher-order functions — no explode, no shuffle, the
    operator is scan-parallel at any corpus size); ratios of integers,
    bit-exact on both engines.

    Executed body is `_repetition_stats_frame` — the O(n log n)
    sorted-run form (swapped in r9 per REGISTRY.md after landing
    library-only in r8, pinned column-for-column identical to the
    original scan-per-distinct HOF)."""
    return _repetition_stats_frame(load_table(spark, sf_dir, "documents"))


ORACLE["d16_repetition_stats"] = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS shs
  FROM t
), m AS (
  SELECT doc_id, toks,
         coalesce(list_max(list_transform(list_distinct(shs),
                  s -> len(list_filter(shs, x -> x = s)))), 0) AS top_bigram
  FROM s
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
         AS dup_token_frac,
       CAST(top_bigram AS INTEGER) AS top_bigram_count,
       round(2.0 * top_bigram / len(toks), 6) AS top_bigram_token_frac
FROM m
ORDER BY doc_id
"""


def _repetition_stats_frame(d: DataFrame) -> DataFrame:
    """d16's body with the most-frequent-bigram count computed from
    SORTED-RUN boundaries (d29's pattern) instead of a filter scan per
    distinct shingle. The scan-per-distinct form above is
    O(n·n_distinct) per document — harmless on this corpus's
    10–99-token docs, quadratic on the 100k-token documents a real
    pipeline gates BEFORE chunking; this form is O(n log n). Output is
    column-for-column identical (pytest-pinned against the original
    scan-per-distinct form — kept verbatim in test_pipeline_ops as the
    reference — plus hand cases and a randomized plain-Python check);
    d16's executed path since the r9 swap (REGISTRY.md schedule; the
    DuckDB oracle stays the readable scan-per-distinct SQL, so every
    driver round independently re-certifies the equivalence).

    Run-length mechanics mirror _entropy_profile_frame exactly: sort
    the shingle array, mark run starts (position 0 or value differs
    from predecessor — F.get's null at index -1 propagates to false,
    and the i == 0 branch of the OR picks position 0 up), difference
    consecutive starts with the array length as the final sentinel,
    take the max run length."""
    base = (
        d.select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n"),
            F.size(F.array_distinct("toks")).alias("nd_toks"),
            F.array_sort(shingles(F.col("toks"), 2)).alias("srt"),
        )
        .select(
            "doc_id",
            "n",
            "nd_toks",
            F.size("srt").alias("m"),
            F.when(
                F.size("srt") > 0,
                F.filter(
                    F.sequence(F.lit(0), F.size("srt") - 1),
                    lambda i: (i == 0) | (F.get("srt", i) != F.get("srt", i - 1)),
                ),
            )
            .otherwise(F.array().cast("array<int>"))
            .alias("starts"),
        )
    )
    run_lens = F.when(
        F.size("starts") > 0,
        F.transform(
            F.sequence(F.lit(0), F.size("starts") - 1),
            lambda p: F.coalesce(F.get("starts", p + 1), F.col("m"))
            - F.get("starts", p),
        ),
    ).otherwise(F.array().cast("array<int>"))
    top_bigram = F.coalesce(F.array_max(run_lens), F.lit(0))
    n = F.col("n")
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(1.0 - F.col("nd_toks").cast("double") / n, 6).alias(
            "dup_token_frac"
        ),
        top_bigram.alias("top_bigram_count"),
        F.round(2.0 * top_bigram / n, 6).alias("top_bigram_token_frac"),
    ).orderBy("doc_id")


def d19_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weighting: given target shares per source,
    compute each source's token share and the per-document sampling
    weight (target share / actual token share — >1 means upsample).
    The companion to d13's deterministic sampling: d13 executes a
    mix, this derives the weights. One map-combined aggregation plus
    an O(sources) broadcast of the totals."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("total_tokens"),
    )
    target = F.lit(None).cast("double")
    for src, w in MIX_TARGET.items():
        target = F.when(F.col("source") == src, F.lit(w)).otherwise(target)
    total = per_src.agg(F.sum("total_tokens").alias("grand")).select("grand")
    share = F.col("total_tokens").cast("double") / F.col("grand")
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.round(share, 6).alias("token_share"),
            target.alias("target_share"),
            F.round(target / share, 6).alias("sampling_weight"),
        )
        .orderBy("source")
    )


_mix_sql = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {w}" for s, w in MIX_TARGET.items()
) + " ELSE NULL END"
ORACLE["d19_source_mixture"] = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(total_tokens) AS grand FROM per_src)
SELECT source, n_docs, total_tokens,
       round(CAST(total_tokens AS DOUBLE) / grand, 6) AS token_share,
       CAST({_mix_sql} AS DOUBLE) AS target_share,
       round(CAST({_mix_sql} AS DOUBLE) / (CAST(total_tokens AS DOUBLE) / grand), 6)
         AS sampling_weight
FROM per_src CROSS JOIN tot
ORDER BY source
"""


def d20_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION step, end to end: LSH candidates (d07) →
    connected components (d12) → keep the highest-quality member of
    each duplicate cluster (d03's score, rounded for engine-stable
    ranking; doc_id breaks ties). Emits one row per cluster with the
    survivor — the keep-list a 100 TB dedup pass would anti-join
    against the corpus. Costs d12 + one broadcast-sized join + a
    per-cluster top-1 (window over the cluster key)."""
    from pyspark.sql import Window as W

    clusters = d12_dup_clusters(spark, sf_dir)
    quality = d03_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    joined = clusters.join(quality, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            "n_members",
            "quality_score",
        )
        .orderBy("cluster_id")
    )


# d12's recursive-CTE components + d03's quality expression + top-1.
ORACLE["d20_cluster_keep_best"] = f"""
WITH RECURSIVE {_duck_minhash_sigs(MINHASH_BANDS)}, e AS (
  {_DUCK_SIG_PAIRS}
), und AS (
  SELECT a_id AS u, b_id AS v FROM e UNION SELECT b_id, a_id FROM e
), reach(s, t) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.s, und.v FROM reach r JOIN und ON und.u = r.t
), cl AS (
  SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s
), sizes AS (
  SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY cluster_id
), q AS (
  SELECT doc_id,
         CAST(len({_DUCK_TOKS}) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
           / CAST(len({_DUCK_TOKS}) AS DOUBLE) AS distinct_ratio,
         CAST(list_sum(list_transform({_DUCK_TOKS}, x -> length(x))) AS DOUBLE)
           / CAST(len({_DUCK_TOKS}) AS DOUBLE) AS avg_len,
         CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio
  FROM documents
), scored AS (
  SELECT doc_id,
         round(0.3 * least(1.0, n_tok / 100.0)
               + 0.3 * distinct_ratio
               + 0.2 * (1.0 - punct_ratio)
               + 0.2 * least(1.0, avg_len / 8.0), 6) AS quality_score
  FROM q
), ranked AS (
  SELECT cl.cluster_id, cl.doc_id, sizes.n_members, scored.quality_score,
         row_number() OVER (PARTITION BY cl.cluster_id
                            ORDER BY scored.quality_score DESC, cl.doc_id ASC) AS rn
  FROM cl JOIN sizes USING (cluster_id) JOIN scored USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_id, n_members, quality_score
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def d17_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into fixed-size token windows with overlap
    (CHUNK_TOKENS=32, stride 24) — the standard pre-training chunking
    step. Pure Catalyst: sequence → posexplode → slice, zero Python.

    Scale: chunking is embarrassingly parallel (per-row explode, no
    shuffle before the sink); output size ≈ input × chunk/stride."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n_tok"))
    base = base.where(F.col("n_tok") > 0)
    starts = F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(CHUNK_STRIDE))
    ex = base.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_id", "start")
    )
    chunk = F.slice("toks", F.col("start") + 1, F.lit(CHUNK_TOKENS))
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


ORACLE["d17_doc_chunking"] = f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks, len({_DUCK_TOKS}) AS n_tok
  FROM documents
), ex AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, n_tok - 1, {CHUNK_STRIDE})) AS start
  FROM base WHERE n_tok > 0
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       CAST(len(toks[start + 1 : start + {CHUNK_TOKENS}]) AS INTEGER)
         AS n_chunk_tokens,
       md5(array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' '))
         AS chunk_hash
FROM ex
ORDER BY doc_id, chunk_id
"""


SEQ_LEN = 512


def d18_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: concatenate documents in
    deterministic (source, doc_id) order and cut every SEQ_LEN=512
    tokens — each doc maps to a [tok_start, tok_end) span and the
    training sequences it lands in. GPT-style packing as a window
    cumsum, no Python.

    Scale: the running offset is per-`source` (Window.partitionBy), so
    at 100 TB packing parallelizes across sources instead of forcing a
    single global ordering — the per-partition layout a real packer
    uses."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    base = d.select("doc_id", "source", n_tok.alias("n_tok")).where(
        F.col("n_tok") > 0
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = base.select(
        "doc_id",
        "source",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0))
        .cast("bigint")
        .alias("tok_start"),
    )
    tok_end = F.col("tok_start") + F.col("n_tok")
    first_seq = F.floor(F.col("tok_start") / SEQ_LEN).cast("int")
    last_seq = F.floor((tok_end - 1) / SEQ_LEN).cast("int")
    return packed.select(
        "doc_id",
        "source",
        "n_tok",
        "tok_start",
        tok_end.cast("bigint").alias("tok_end"),
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + F.lit(1)).alias("n_seqs"),
    ).orderBy("source", "doc_id")


ORACLE["d18_sequence_packing"] = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_tok
  FROM documents
  WHERE len({_DUCK_TOKS}) > 0
), packed AS (
  SELECT doc_id, source, n_tok,
         CAST(coalesce(sum(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tok_start
  FROM base
)
SELECT doc_id, source, n_tok, tok_start,
       CAST(tok_start + n_tok AS BIGINT) AS tok_end,
       CAST(tok_start // {SEQ_LEN} AS INTEGER) AS first_seq,
       CAST((tok_start + n_tok - 1) // {SEQ_LEN} AS INTEGER) AS last_seq,
       CAST((tok_start + n_tok - 1) // {SEQ_LEN}
            - tok_start // {SEQ_LEN} + 1 AS INTEGER) AS n_seqs
FROM packed
ORDER BY source, doc_id
"""


TFIDF_TOP = 3


def d21_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOP terms per document under a BM25-style idf weight
    score = tf * (N - df + 0.5) / (df + 0.5). The rational idf (no
    log) is deliberate: +, *, / are IEEE-correctly-rounded so Spark
    and DuckDB produce bit-identical doubles — ln() carries no such
    guarantee and would make rank ties engine-dependent.

    Scale: tf is one map-combined shuffle on (doc_id, term); df
    reduces tf by term (vocabulary-sized) and broadcasts back; the
    corpus-size scalar joins as a broadcast literal row. No all-pairs
    stage anywhere."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    exploded = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    # r13 opt: pin tf — both consumers (the df reduction feeding the
    # broadcast and the scoring stream) previously re-ran the corpus
    # tokenize + explode + (doc_id, term) aggregation from their own
    # scans (3 scans / 2 Generates in the before-plan). The broadcast
    # build of df_ materializes the pin; the scoring stream reuses it.
    tf = (
        exploded.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    score = (
        F.col("tf") * (F.col("n_docs") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TFIDF_TOP)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.round("score", 6).alias("score"),
            F.col("rn").cast("int").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


ORACLE["d21_tfidf_topterms"] = f"""
WITH exploded AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM exploded GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         (tf.tf * ((SELECT count(*) FROM documents) - df.df + 0.5))
           / (df.df + 0.5) AS score
  FROM tf JOIN df USING (term)
), ranked AS (
  SELECT doc_id, term, tf, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC)
              AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tf, round(score, 6) AS score, rank
FROM ranked WHERE rank <= {TFIDF_TOP}
ORDER BY doc_id, rank
"""


BIGRAM_TOP = 50


def d22_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency, top-BIGRAM_TOP. Bigrams are built
    in-row with a sequence→transform HOF (no self-join), then one
    map-combined count shuffle; the top-k is TakeOrdered.

    Scale: intermediate cardinality = vocabulary², independent of
    corpus size; the explode never leaves the input partition before
    the partial aggregate."""
    d = load_table(spark, sf_dir, "documents")
    # Materialize the token array as a column BEFORE the shingle HOF:
    # Catalyst does no common-subexpression elimination inside lambda
    # bodies, so passing the raw tokens(...) expression re-runs the
    # whole split+filter per element_at — measured 3.7 s vs 0.4 s at
    # sf0.1 for this query. One Project makes it a per-row attribute.
    return (
        d.select(tokens("text").alias("toks"))
        .select(F.explode(shingles(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(BIGRAM_TOP)
    )


ORACLE["d22_bigram_counts"] = f"""
WITH base AS (
  SELECT {_DUCK_TOKS} AS s, len({_DUCK_TOKS}) AS n FROM documents
), ex AS (
  SELECT s, unnest(generate_series(1, n - 1)) AS i FROM base WHERE n >= 2
)
SELECT s[i] || ' ' || s[i + 1] AS bigram, CAST(count(*) AS BIGINT) AS cnt
FROM ex
GROUP BY bigram
ORDER BY cnt DESC, bigram ASC
LIMIT {BIGRAM_TOP}
"""


CONTAM_NGRAM = 5
CONTAM_TEST_SOURCE = "src3"
CONTAM_FLAG_FRAC = 0.8


def d23_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-level train/test decontamination (the 13-gram overlap
    method, scaled to 5-grams for this corpus): for each held-out
    document (source = src3), the fraction of its distinct 5-gram
    shingles that occur anywhere in the training split (every other
    source); documents above CONTAM_FLAG_FRAC get flagged. Upgrades
    d15's whole-document check to partial-overlap detection.

    Scale shape — NO pair explosion: the train side collapses to a
    distinct gram set (map-side-combined distinct on the hashed
    gram), the test side left-semi-joins on that same key, and the
    per-doc fractions are two more map-combined aggs. Work stays
    O(total grams), never O(doc pairs sharing a gram) — the d09b
    degeneracy cannot occur. Grams travel as portable 32-bit hashes,
    not strings, cutting shuffle bytes ~4×."""
    d = load_table(spark, sf_dir, "documents")
    # token array materialized first — no CSE inside lambdas (see d22)
    # (r13 measured, NOT adopted: pinning this exploded gram stream for
    # its three consumers A/B'd ~2x SLOWER — new_min 1.11 s vs old_min
    # 0.55 s, old won 5/6 interleaved passes at sf0.1, and the full
    # bench read the pinned form at 5.4x its baseline. Unlike d40's
    # md5-per-gram anchors, these shingles are cheap enough that
    # re-deriving them fused into each consumer's scan — with the
    # source filters pushed down so each side only shingles its own
    # split — beats materializing and re-reading ~2.5M exploded rows.)
    g = d.select("doc_id", "source", tokens("text").alias("toks")).select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(F.col("toks"), CONTAM_NGRAM), lambda s: hash32(s)
                )
            )
        ).alias("g"),
    )
    train = g.filter(F.col("source") != CONTAM_TEST_SOURCE).select("g").distinct()
    test = g.filter(F.col("source") == CONTAM_TEST_SOURCE)
    hits = (
        test.join(train, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    totals = test.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    n_hits = F.coalesce("n_hits", F.lit(0).cast("long"))
    frac = n_hits.cast("double") / F.col("n_grams")
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_hits.alias("n_hits"),
            F.round(frac, 6).alias("overlap_frac"),
            F.when(frac >= CONTAM_FLAG_FRAC, 1).otherwise(0).cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_GRAM5 = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(CONTAM_NGRAM))
ORACLE["d23_ngram_contamination"] = f"""
WITH t AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
), g AS (
  SELECT doc_id, source, unnest(list_distinct(list_transform(
    list_transform(range(1, len(toks) - {CONTAM_NGRAM - 2}), i -> {_GRAM5}),
    s -> ('0x' || substr(md5(s), 1, 8))::BIGINT))) AS g
  FROM t
), train AS (
  SELECT DISTINCT g FROM g WHERE source != '{CONTAM_TEST_SOURCE}'
), test AS (
  SELECT doc_id, g FROM g WHERE source = '{CONTAM_TEST_SOURCE}'
), stats AS (
  SELECT doc_id, count(*) AS n_grams,
         count(*) FILTER (WHERE g IN (SELECT g FROM train)) AS n_hits
  FROM test GROUP BY doc_id
)
SELECT doc_id, n_grams, n_hits,
       round(CAST(n_hits AS DOUBLE) / n_grams, 6) AS overlap_frac,
       CASE WHEN CAST(n_hits AS DOUBLE) / n_grams >= {CONTAM_FLAG_FRAC}
            THEN 1 ELSE 0 END AS contaminated
FROM stats
ORDER BY doc_id
"""


FILTER_MIN_TOKENS = 20
FILTER_MAX_DUP_FRAC = 0.6
FILTER_AVG_LEN_LO = 4.0
FILTER_AVG_LEN_HI = 5.0


def d24_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality-filter pipeline (the C4/Gopher rule-stack
    shape): three in-row gates — minimum length, duplicate-token
    fraction, mean token length band — each attributed separately per
    source, plus the count surviving all gates. The per-rule
    attribution is what a pipeline owner tunes against; the kept
    count is the pipeline's yield.

    Scale: signals are pure codegen expressions in the scan, the
    report is one map-side-combined aggregation on `source` — a
    2-stage job regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    avg_len = sum_len.cast("double") / n_tok
    dup_frac = (n_tok - n_dist).cast("double") / n_tok
    f_len = n_tok < FILTER_MIN_TOKENS
    f_dup = dup_frac > FILTER_MAX_DUP_FRAC
    f_avg = (avg_len < FILTER_AVG_LEN_LO) | (avg_len > FILTER_AVG_LEN_HI)
    base = d.select(
        "source",
        f_len.cast("long").alias("f_len"),
        f_dup.cast("long").alias("f_dup"),
        f_avg.cast("long").alias("f_avg"),
        (~(f_len | f_dup | f_avg)).cast("long").alias("kept"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_len").alias("n_fail_minlen"),
            F.sum("f_dup").alias("n_fail_dupfrac"),
            F.sum("f_avg").alias("n_fail_avglen"),
            F.sum("kept").alias("n_kept"),
        )
        .orderBy("source")
    )


ORACLE["d24_quality_filter"] = f"""
WITH s AS (
  SELECT source,
         len({_DUCK_TOKS}) AS n_tok,
         len(list_distinct({_DUCK_TOKS})) AS n_dist,
         CAST(list_sum(list_transform({_DUCK_TOKS}, x -> length(x))) AS DOUBLE)
           / len({_DUCK_TOKS}) AS avg_len
  FROM documents
), flags AS (
  SELECT source,
         n_tok < {FILTER_MIN_TOKENS} AS f_len,
         CAST(n_tok - n_dist AS DOUBLE) / n_tok > {FILTER_MAX_DUP_FRAC} AS f_dup,
         (avg_len < {FILTER_AVG_LEN_LO} OR avg_len > {FILTER_AVG_LEN_HI}) AS f_avg
  FROM s
)
SELECT source,
       count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE f_len) AS BIGINT) AS n_fail_minlen,
       CAST(count(*) FILTER (WHERE f_dup) AS BIGINT) AS n_fail_dupfrac,
       CAST(count(*) FILTER (WHERE f_avg) AS BIGINT) AS n_fail_avglen,
       CAST(count(*) FILTER (WHERE NOT (f_len OR f_dup OR f_avg)) AS BIGINT) AS n_kept
FROM flags
GROUP BY source
ORDER BY source
"""


SAMPLE_BUDGET_TOKENS = 800


def d25_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling: walk each source's documents
    in deterministic pseudo-random order (portable hash of doc_id)
    and keep documents while the running token total fits the budget
    — how a mixture builder fills "N tokens of source X" slots
    (complements d13's rate sampling and d19's share accounting).

    Scale: one window cumsum partitioned by `source`, so sources fill
    budgets in parallel; for a single giant source, switch to d13's
    hash-mod rate sampling (no global ordering) — the budget form is
    for when the target is an exact token count, which inherently
    needs a running total."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        hash32(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= SAMPLE_BUDGET_TOKENS)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
        .orderBy("source", "doc_id")
    )


ORACLE["d25_token_budget_sample"] = f"""
WITH base AS (
  SELECT source, doc_id,
         CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents
), c AS (
  SELECT source, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM base
)
SELECT source, doc_id, n_tokens, cum_tokens
FROM c
WHERE cum_tokens <= {SAMPLE_BUDGET_TOKENS}
ORDER BY source, doc_id
"""


def d26_source_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source statistical profiling: the linear relationship
    between token count and character count (OLS slope/intercept from
    population covariance/variance, plus Pearson correlation). The
    corpus-profiling step a pipeline runs to spot sources whose
    length distributions drifted.

    covar_pop/var_pop/corr are population-definition aggregates with
    identical semantics on both engines (sample-adjusted skew/kurt
    would NOT be — see q47's manual power sums). One map-combined
    aggregation; Spark's streaming co-moment merge is the classic
    parallel update formula, so this scales like any sum."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        F.size(tokens("text")).cast("double").alias("x"),
        F.col("n_chars").cast("double").alias("y"),
    )
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("x"), 6).alias("mean_tokens"),
            F.round(F.avg("y"), 6).alias("mean_chars"),
            F.round(F.covar_pop("x", "y"), 6).alias("covar_tok_chars"),
            F.round(slope, 6).alias("ols_slope"),
            F.round(F.avg("y") - slope * F.avg("x"), 6).alias("ols_intercept"),
            F.round(F.corr("x", "y"), 6).alias("pearson_r"),
        )
        .orderBy("source")
    )


ORACLE["d26_source_regression"] = f"""
WITH base AS (
  SELECT source,
         CAST(len({_DUCK_TOKS}) AS DOUBLE) AS x,
         CAST(n_chars AS DOUBLE)           AS y
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       round(avg(x), 6) AS mean_tokens,
       round(avg(y), 6) AS mean_chars,
       round(covar_pop(x, y), 6) AS covar_tok_chars,
       round(covar_pop(x, y) / var_pop(x), 6) AS ols_slope,
       round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 6) AS ols_intercept,
       round(corr(x, y), 6) AS pearson_r
FROM base
GROUP BY source
ORDER BY source
"""


def unigram_logprob(
    docs: DataFrame, min_count: int = 1, top_k: int | None = None
) -> DataFrame:
    """Perplexity-proxy quality scoring: a corpus unigram LM
    (p(t) = count(t)/total) scores every document by its mean
    negative log-probability; the exp of that is the document's
    unigram perplexity. The standard cheap stand-in for model-based
    quality filtering (CCNet-style) when no LM checkpoint is in the
    loop. `docs` needs (doc_id, text).

    Vocabulary control — the 100 TB posture: a RAW-token vocabulary
    grows with the corpus (Heaps' law: web scale ⇒ billions of
    distinct tokens), so the capped form is the deployment form.
    Tokens below `min_count` occurrences, or outside the `top_k` most
    frequent, are folded into a single OOV event whose probability is
    the dropped tokens' total mass / total — probabilities still sum
    to 1, kept-token probabilities are UNCHANGED by capping, and
    singleton tokens (garbage estimates anyway) stop inflating the
    vocab. With `top_k` set the LM is bounded BY CONSTRUCTION, so the
    scoring join forces a broadcast; with only `min_count` the bound
    is statistical, and with neither (the default, oracle-comparable
    form) the vocab is unbounded — both of those leave the join side
    to AQE's runtime stats instead of forcing a hint that would OOM
    on a billion-row LM.

    Shape: one map-combined aggregation builds the LM, scoring is a
    join back onto the exploded token stream plus one aggregation
    keyed by doc_id — two corpus passes in every form. The capped
    form localCheckpoints the |vocab|-row counts so the rank/limit,
    the two scalar totals (1 driver row each — driver-sized by
    contract) and the kept-LM filter all read the materialized counts
    instead of re-exploding the corpus."""
    # r13 opt: pin the exploded token stream — the LM build and the
    # scoring join are BOTH corpus passes over `toks`, and without the
    # pin each ran its own tokenize + explode from the raw scan ("two
    # corpus passes in every form" above; 2 Scan+Generate subtrees in
    # plans/r13/d27_unigram_logprob_before.txt). The LM-side broadcast
    # build materializes the lazy checkpoint; the scoring stream
    # reuses it — one tokenize pass per query in every form.
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).localCheckpoint(eager=False)
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    capped = min_count > 1 or top_k is not None
    if not capped:
        # total corpus tokens as a whole-frame window over the LM
        # itself: a separate counts.agg() subtree would RE-SCAN and
        # re-explode the corpus just to sum |vocab| numbers (no CSE
        # across DataFrame reuse — the first EXPLAIN.md snapshot
        # showed the third corpus pass). The unpartitioned window
        # funnels only the |vocab|-row LM through one partition.
        from pyspark.sql import Window as W

        total = F.sum("c").over(W.partitionBy())
        lm = counts.select(
            "tok", F.log(F.col("c").cast("double") / total).alias("logp")
        )
        scored = toks.join(lm, "tok").select("doc_id", "logp")
    else:
        if top_k is not None and top_k < 1:
            raise ValueError(f"top_k={top_k} must be >= 1")
        import math

        counts = counts.localCheckpoint()
        kept = counts.filter(F.col("c") >= min_count)
        if top_k is not None:
            # TakeOrderedAndProject (distributed partial top-k), not a
            # global row_number window — an unpartitioned rank would
            # funnel the raw vocab through one task. Ties break on the
            # token string so the cut is deterministic on any engine.
            kept = kept.orderBy(F.desc("c"), "tok").limit(top_k)
        total_n = int(counts.agg(F.sum("c")).collect()[0][0] or 0)
        kept_n = int(kept.agg(F.sum("c")).collect()[0][0] or 0)
        total_n = max(total_n, 1)
        oov_logp = math.log(max(total_n - kept_n, 1) / total_n)
        lm = kept.select(
            "tok",
            F.log(F.col("c").cast("double") / F.lit(float(total_n))).alias("logp"),
        )
        lm_side = F.broadcast(lm) if top_k is not None else lm
        scored = toks.join(lm_side, "tok", "left").select(
            "doc_id", F.coalesce(F.col("logp"), F.lit(oov_logp)).alias("logp")
        )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.col("logp")), 6).alias("nll"),
            F.round(F.exp(F.avg(-F.col("logp"))), 6).alias("ppl"),
        )
        .orderBy("doc_id")
    )


def d27_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of `unigram_logprob`: the uncapped LM (floor=1,
    no top-k) so the row is oracle-comparable — every token keeps its
    exact corpus probability. The uncapped form does NOT force the LM
    broadcast (its vocab is unbounded; AQE's runtime stats pick the
    join side — at any benchable scale that resolves to the same
    broadcast); the deployment form is `unigram_logprob(docs,
    top_k=...)`, bounded by construction and broadcast-pinned
    (tests/test_pipeline_ops.py)."""
    return unigram_logprob(load_table(spark, sf_dir, "documents"))


ORACLE["d27_unigram_logprob"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
), lm AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), scored AS (
  SELECT t.doc_id,
         ln(CAST(lm.c AS DOUBLE) / (SELECT CAST(sum(c) AS DOUBLE) FROM lm)) AS logp
  FROM toks t JOIN lm USING (tok)
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(-logp), 6) AS nll,
       round(exp(avg(-logp)), 6) AS ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# d28's batch split: sources srcN with N >= this are the "incoming
# batch"; lower N are the already-ingested corpus whose fingerprint
# store the batch dedupes against.
INCREMENTAL_BATCH_MIN_SRC = 10


def d28_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-batch) dedup — THE production ingestion
    pattern at 100 TB: you never re-dedupe the whole corpus, you
    dedupe each incoming batch against a persisted fingerprint store
    and within itself. Here sources src10+ play the incoming batch
    and src0–src9's text hashes play the store; every batch doc is
    classified kept / dup-vs-store / dup-within-batch.

    Shape: the store side is projected to ONE hash column, and the
    batch↔store join keys on that hash — at 100 TB the store is far
    too big to broadcast, so this is a shuffle hash join where a
    hash-bucketed store table makes the store side shuffle-free.
    The within-batch first-wins pass is a window over the SAME hash
    key, so it reuses the join's partitioning — one shuffle total on
    the batch side, then a per-source rollup."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.substring("source", 4, 8).cast("int").alias("src_no"),
    )
    store = (
        d.filter(F.col("src_no") < INCREMENTAL_BATCH_MIN_SRC)
        .select("h")
        .distinct()
        .withColumn("in_store", F.lit(True))
    )
    batch = d.filter(F.col("src_no") >= INCREMENTAL_BATCH_MIN_SRC)
    joined = batch.join(store, "h", "left")
    from pyspark.sql import Window as W

    w = W.partitionBy("h")
    first_id = F.min("doc_id").over(w)
    is_store_dup = F.coalesce(F.col("in_store"), F.lit(False))
    is_kept = ~is_store_dup & (F.col("doc_id") == first_id)
    flagged = joined.select(
        "source", is_store_dup.alias("is_store_dup"), is_kept.alias("is_kept")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_kept").cast("int")).alias("n_kept"),
            F.sum(F.col("is_store_dup").cast("int")).alias("n_dup_store"),
            F.sum(
                (~F.col("is_store_dup") & ~F.col("is_kept")).cast("int")
            ).alias("n_dup_batch"),
        )
        .orderBy("source")
    )


ORACLE["d28_incremental_dedup"] = f"""
WITH d AS (
  SELECT doc_id, source, md5(text) AS h, CAST(source[4:] AS INT) AS src_no
  FROM documents
), store AS (
  SELECT DISTINCT h FROM d WHERE src_no < {INCREMENTAL_BATCH_MIN_SRC}
), batch AS (
  SELECT d.*, h IN (SELECT h FROM store) AS in_store
  FROM d WHERE src_no >= {INCREMENTAL_BATCH_MIN_SRC}
), flagged AS (
  SELECT source, in_store,
         NOT in_store AND doc_id = min(doc_id) OVER (PARTITION BY h) AS is_kept
  FROM batch
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN in_store THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_store,
       CAST(sum(CASE WHEN NOT in_store AND NOT is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch
FROM flagged GROUP BY source ORDER BY source
"""


def d29_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals: per-document unigram Shannon
    entropy, type-token ratio, and hapax fraction (share of distinct
    tokens occurring exactly once). Low entropy / low TTR flags
    keyword-stuffed and template text that length rules miss.

    Entirely in-row over the token array (nested higher-order
    functions — no explode, no shuffle, scan-parallel at any corpus
    size), the same 100 TB posture as d16's repetition gates.

    Per-token counts come from SORTED-RUN boundaries — array_sort,
    find the run-start positions, difference consecutive starts —
    which is O(n log n) per doc. The obvious per-distinct
    `filter(toks, x == t)` scan is O(n·n_distinct): harmless on this
    corpus's 10–99-token docs, quadratic on the 100k-token documents
    a real pipeline profiles BEFORE chunking (a true O(n) in-row count
    map isn't expressible — Catalyst HOF accumulators are immutable,
    so a fold-built map copies itself per element, which is the same
    quadratic in disguise). tests/test_pipeline_ops.py pins the
    bounded-time behavior on a 40k-token doc. Intermediate arrays are
    materialized as columns first: Catalyst does not CSE
    subexpressions into lambda bodies (the d22 lesson). Array access
    is F.get (0-based, null out of range) — element_at throws under
    ANSI, and boolean operators don't promise the short-circuit that
    would dodge the i-1 = -1 probe on the first run boundary.

    Entropy / TTR / hapax depend only on the MULTISET of counts, so
    the sorted-run order (vs the oracle's first-occurrence order)
    only reorders a float summation — divergence ~1e-15, absorbed by
    round(·, 6) exactly like cross-engine ln ulp noise already is."""
    return _entropy_profile_frame(load_table(spark, sf_dir, "documents"))


def _entropy_profile_frame(d: DataFrame) -> DataFrame:
    """d29's per-frame body — (doc_id, text) in; the long-doc pytest
    drives it directly on a synthetic 40k-token document."""
    srt = F.array_sort("toks")
    base = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.size("toks").alias("n"), srt.alias("srt")
    ).select(
        "doc_id",
        "n",
        # run-start positions (0-based) in the sorted token array;
        # n = 0 guarded explicitly — sequence(0, -1) is DESCENDING
        # (the shingles lesson), not empty
        F.when(
            F.col("n") > 0,
            F.filter(
                F.sequence(F.lit(0), F.col("n") - 1),
                lambda i: (i == 0) | (F.get("srt", i) != F.get("srt", i - 1)),
            ),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("starts"),
    ).select(
        "doc_id",
        "n",
        F.size("starts").alias("nd"),
        F.when(
            F.size("starts") > 0,
            F.transform(
                F.sequence(F.lit(0), F.size("starts") - 1),
                lambda p: F.coalesce(F.get("starts", p + 1), F.col("n"))
                - F.get("starts", p),
            ),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("cnts"),
    )
    p = lambda c: c.cast("double") / F.col("n")  # noqa: E731
    entropy = -F.aggregate(
        F.col("cnts"), F.lit(0.0), lambda acc, c: acc + p(c) * F.log(p(c))
    )
    return base.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("nd").alias("n_distinct"),
        F.round(entropy, 6).alias("entropy"),
        F.round(F.col("nd").cast("double") / F.col("n"), 6).alias("ttr"),
        F.round(
            F.size(F.filter("cnts", lambda c: c == 1)).cast("double") / F.col("nd"), 6
        ).alias("hapax_ratio"),
    ).orderBy("doc_id")


ORACLE["d29_entropy_profile"] = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), t2 AS (
  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
         list_transform(list_distinct(toks),
                        x -> len(list_filter(toks, y -> y = x))) AS cnts
  FROM t
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_tokens,
       CAST(nd AS INTEGER) AS n_distinct,
       round(-list_sum(list_transform(cnts,
             c -> (CAST(c AS DOUBLE)/n) * ln(CAST(c AS DOUBLE)/n))), 6) AS entropy,
       round(CAST(nd AS DOUBLE)/n, 6) AS ttr,
       round(CAST(len(list_filter(cnts, c -> c = 1)) AS DOUBLE)/nd, 6) AS hapax_ratio
FROM t2 ORDER BY doc_id
"""


# d30 funnel quality gate (stage 2): token-count band + minimum
# type-token ratio. Chosen to discriminate on this corpus (n spans
# 10–99, TTR 0.28–1.0) — a deployment tunes them per-source.
FUNNEL_MIN_TOKENS = 15
FUNNEL_MAX_TOKENS = 90
FUNNEL_MIN_TTR = 0.35


def d30_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cleaning funnel — the whole training-data pipeline
    as ONE query with per-source survival counts at every stage:
    quality gate (token band + TTR) → canonical dedup (first doc_id
    wins per sorted-distinct-token-set hash, d06's key) → cross-source
    decontamination (drop any doc whose canonical text appears under
    more than one source) → surviving token budget.

    Shape: all four stages resolve in ONE shuffle on the canonical
    hash — the dedup winner and the distinct-source census are both
    window functions over the same `h` partitioning — followed by the
    per-source rollup. At 100 TB that is the minimum possible
    topology for this funnel (each stage alone costs a hash shuffle;
    fusing them shares it), and the stage counters mean a skewed or
    over-aggressive gate shows up in the output, not in a silent
    corpus shrink."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        tokens("text").alias("toks"),
        distinct_tokens("text").alias("dts"),
    ).select(
        "doc_id",
        "source",
        F.size("toks").alias("n"),
        _canon_key(F.col("dts")).alias("h"),
        (
            F.size("toks").between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS)
            & (
                F.size("dts").cast("double") / F.size("toks")
                >= F.lit(FUNNEL_MIN_TTR)
            )
        ).alias("quality"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("h")
    min_q_doc = F.min(F.when(F.col("quality"), F.col("doc_id"))).over(w)
    n_src = F.size(F.collect_set("source").over(w))
    dedup = F.col("quality") & (F.col("doc_id") == min_q_doc)
    final = dedup & (n_src == 1)
    return (
        base.select("source", "n", "quality", dedup.alias("dedup"), final.alias("final"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.col("quality").cast("int")).alias("n_quality"),
            F.sum(F.col("dedup").cast("int")).alias("n_dedup"),
            F.sum(F.col("final").cast("int")).alias("n_final"),
            F.coalesce(
                F.sum(F.when(F.col("final"), F.col("n"))), F.lit(0)
            ).alias("tokens_final"),
        )
        .orderBy("source")
    )


ORACLE["d30_pipeline_funnel"] = f"""
WITH base AS (
  SELECT doc_id, source,
         len({_DUCK_TOKS}) AS n,
         md5(array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ')) AS h,
         len({_DUCK_TOKS}) BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS}
           AND CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
               / len({_DUCK_TOKS}) >= {FUNNEL_MIN_TTR} AS quality
  FROM documents
), cross_h AS (
  SELECT h FROM base GROUP BY h HAVING count(DISTINCT source) > 1
), flagged AS (
  SELECT source, n, quality,
         quality AND doc_id = min(CASE WHEN quality THEN doc_id END)
                       OVER (PARTITION BY h) AS dedup,
         h IN (SELECT h FROM cross_h) AS multi_src
  FROM base
)
SELECT source,
       count(*) AS n_total,
       CAST(sum(CASE WHEN quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(sum(CASE WHEN dedup AND NOT multi_src THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(coalesce(sum(CASE WHEN dedup AND NOT multi_src THEN n END), 0) AS BIGINT) AS tokens_final
FROM flagged GROUP BY source ORDER BY source
"""


def simhash_pairs(
    sim_df: DataFrame,
    max_hamming: int = 3,
    bands: int | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """COMPLETE Hamming-≤k near-dup pairs over a (doc_id, simhash)
    frame (simhash_frame's output at the same `bits`): split the bits
    into `bands` equal slices with bands > max_hamming — two hashes
    within Hamming distance k then agree EXACTLY on at least one band
    (pigeonhole), so candidate recall is 1.0 BY CONSTRUCTION, unlike
    MinHash banding's probabilistic S-curve. The classic web-scale
    simhash dedup layout (Manku et al.'s near-duplicate detection):
    candidates equi-join on (band, band_value), the popcount verify is
    in-row.

    Returns (a_id, b_id, hamming), a_id < b_id, each pair once. Scale
    shape: the only shuffle keys on (band, value) — bucket-join, never
    all-pairs; the exploded frame is `bands` rows per doc of three
    integers, and skewed buckets go through chunked_self_join's valve.
    Band values are bits/bands wide, so buckets average
    corpus_size/2^(bits/bands) docs: widen `bits` (not the valve) when
    that saturates."""
    bands = bands if bands is not None else max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming} for the "
            "pigeonhole completeness guarantee"
        )
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    width = bits // bands
    # Materialize the narrow (doc_id, simhash) frame BEFORE the join:
    # when sim_df arrives as an unevaluated expression chain (the
    # per-token md5 + per-bit majority HOFs), Catalyst substitutes that
    # whole chain into every downstream reference — the join condition
    # and the verify filter then re-derive the simhash FROM THE TOKENS
    # per candidate row. Two longs per doc, so the pin is
    # corpus-row-sized, not corpus-sized — the production shape
    # persists the simhash column anyway.
    # Lazy: the guard's max() below is the job that materializes it.
    sim_df = sim_df.select("doc_id", "simhash").localCheckpoint(eager=False)
    # Width-compatibility guard: feeding a narrower
    # frame than `bits` (e.g. a 32-bit simhash_frame at bits=60)
    # makes every band above the frame's real width all-zero, so all
    # docs collide in those bands and the candidate stream silently
    # goes QUADRATIC. One max() over the pinned 2-col frame catches
    # both directions: values at/above 2^bits mean
    # the declared width truncates real bits (breaking the pigeonhole
    # completeness guarantee), and a max below 2^(bits-width) means
    # the TOP band is zero for every doc (the frame was generated at
    # a narrower width — a genuinely spanning corpus hits the top
    # band with probability 1 - 2^(-width·n)).
    mx = sim_df.agg(F.max("simhash").alias("m")).first()["m"]
    if mx is not None:
        if mx >= (1 << bits):
            raise ValueError(
                f"simhash values exceed 2^{bits} — the frame is WIDER "
                f"than bits={bits}; banding would ignore the high bits "
                "and break pigeonhole completeness. Pass the width the "
                "frame was generated at."
            )
        if mx < (1 << (bits - width)):
            raise ValueError(
                f"max(simhash)={mx} never reaches the top band at "
                f"bits={bits} (band width {width}) — the frame looks "
                f"narrower than declared, which makes the all-zero "
                "upper bands collide every doc pair (silent quadratic "
                "candidates). Generate the frame with "
                f"simhash_frame(bits={bits}) or pass the true width."
            )
    mask = (1 << width) - 1

    def _band_slice(col, j: int):
        # band index j is a Python int, so the literal shiftright is
        # available (and exact — longs, not doubles)
        return F.shiftright(col, j * width).bitwiseAND(F.lit(mask))

    slices = F.array(*[_band_slice(F.col("simhash"), b) for b in range(bands)])
    ex = sim_df.select("doc_id", "simhash", F.posexplode(slices).alias("band", "v"))
    # chunked_self_join, NOT a plain (band, v) self-join: band values
    # are only `width` bits, so buckets are corpus_size/2^width on
    # AVERAGE and far worse on dup-heavy corpora (identical hashes
    # share every band) — a plain join serializes each bucket's
    # quadratic pair generation into one task.
    # repartition_probe: the exploded frame descends from the narrow
    # checkpoint (often 1 partition at small scale) and the join
    # broadcasts, so without it the whole candidate probe serializes
    # into one task.
    j = chunked_self_join(
        ex, ["band", "v"], order_col="doc_id", repartition_probe=True
    )
    a_sh, b_sh = F.col("a.simhash"), F.col("b.simhash")
    # first-match-band dedup, fully in-row: both hashes ride the
    # joined row, and band slices are literal shifts
    first = first_match_band(
        "a.band", bands, lambda jj: _band_slice(a_sh, jj) == _band_slice(b_sh, jj)
    )
    ham = F.bit_count(a_sh.bitwiseXOR(b_sh))
    return j.filter((ham <= max_hamming) & first).select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        ham.cast("int").alias("hamming"),
    )


# A-ES quantized-rank decade clamp: e = floor(log10(-key)) clamped to
# [AES_E_MIN, AES_E_MAX]; scale for a decade is 10^(11-e) (~12
# significant digits kept). Keys outside the clamp range (|key| below
# 1e-10 — u within 1e-4 of 1.0 — or above 1e9 — weights under ~2e-8)
# rank with reduced ulp absorption at the clamp scale, and beyond the
# mantissa saturation bound (|key|·scale > 2^62 — positive weights
# under ~1e-16 at the AES_E_MAX clamp) they collapse to m = ±2^62 and
# rank among themselves by doc_id: consistent with A-ES (a vanishing
# weight is effectively never selected), identical on both engines,
# and — unlike the unsaturated cast — never an ANSI CAST_OVERFLOW
# (the r8 ADVICE reproduction: weight = 1e-300 crashed the cast).
# Literals like 1e21 are not exact powers of ten in a double,
# but every engine's decimal parser rounds them to the IDENTICAL
# double (IEEE correctly-rounded parsing), which is the property the
# cross-engine ranking needs.
AES_E_MIN = -10
AES_E_MAX = 8
# Mantissa saturation bound: 2^62 is exactly representable as a
# double, fits int64 after round/cast on both engines, and sits far
# above every in-clamp mantissa (|m| <= 1e12-ish for in-range decades).
AES_M_SAT = float(2**62)


def _aes_scale_table() -> list[tuple[int, float]]:
    return [
        (e, float(f"1e{11 - e}")) for e in range(AES_E_MIN, AES_E_MAX + 1)
    ]


def _aes_scale_case_sql() -> str:
    """The identical decade→scale table as a SQL CASE (for oracles)."""
    whens = " ".join(
        f"WHEN {e} THEN 1e{11 - e}" for e in range(AES_E_MIN, AES_E_MAX + 1)
    )
    return f"CASE e {whens} END"


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str = "n_chars",
    strata_col: str | None = "source",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): key_i = u_i^(1/w_i) with u_i a portable md5-derived
    uniform in (0,1]; the top-k keys per stratum ARE a weighted sample
    without replacement. Heavier docs (by `weight_col`) are
    proportionally likelier — the standard "prefer long documents"
    sampler a mixture builder uses when token-weighted representation
    matters (complements d13's rate sampling, d25's budget fill).

    Library function (not a registry query: its value is the sampling
    CONTRACT, pinned by tests/test_pipeline_ops.py, not a row-hash).
    Deterministic by construction — same corpus, same k ⇒ same sample
    on every engine and every run. ln(u)/w is used instead of u^(1/w)
    (same ordering, monotone transform) to keep the arithmetic inside
    double range for tiny weights.

    The RANKING is ulp-robust across engines: the raw key ln(u)/w is
    a libm result whose last bit can differ between the JVM and other
    engines, and a near-tie at the rank-k boundary would then select
    different rows. So the cut ranks a QUANTIZED form of the key —
    (e, m) with e = clamp(floor(log10(-k)), AES_E_MIN, AES_E_MAX) and
    m = round(k · 10^(11-e)) as a BIGINT (≈12 significant digits;
    order by e asc, m desc — for negative k a smaller decade means
    closer to zero, i.e. a better key) — with doc_id breaking
    quantization ties. The 10^(11-e) scales come from a literal table
    (never pow(): libm pow is not guaranteed bit-equal across
    engines); each literal parses to the identical IEEE double on
    every engine, |m| stays under 2^53 (exact), and the bigint round
    kills sub-ulp noise: a cross-engine
    flip now needs k·10^(11-e) within ~1e-4 of a .5 boundary AND that
    doc sitting exactly at the rank-k cut, instead of any last-ulp
    difference at the cut. k·scale saturates at ±2^62 before the cast
    (weights under ~1e-16 would otherwise overflow the bigint under
    ANSI mode); saturated docs rank by doc_id among themselves — the
    vanishing-weight regime where A-ES never selects them anyway.
    Docs with non-positive weight are EXCLUDED
    (the A-ES zero-weight limit: never selected; also avoids the
    engine-dependent ln(u)/0 = null-vs-inf split), and u = 1 (k = 0
    exactly, the maximum key) is pinned to (e, m) = (-10, 0) rather
    than fed to log10(0), which is null on the JVM and -inf elsewhere.

    Scale: one window top-k per stratum — the same single-shuffle
    shape as every per-group top-k here; strata fill in parallel.
    With strata_col=None a single global TakeOrdered handles it."""
    from pyspark.sql import Window as W

    # u in (0,1]: (hash32 + 1) / 2^32; key = ln(u)/w, larger is better
    # (ln(u) < 0, so dividing by a LARGER weight moves the key toward
    # 0 from below — heavy docs float up)
    u = (hash32(F.col("doc_id").cast("string")) + 1).cast("double") / F.lit(
        float(2**32)
    )
    w_val = F.col(weight_col).cast("double")
    key = F.log(u) / w_val
    # key and e materialize as COLUMNS before the scale CASE consumes
    # them: Catalyst gives CASE branches no CSE, so the raw-expression
    # form re-evaluated e — and through it log10(ln(md5(...))) — once
    # PER BRANCH of the ~20-entry scale table (~2x wall on d31's
    # bench row, caught by the r8 gate; the d22 lesson in CASE form)
    keyed = docs.filter(w_val > 0).withColumn("_aes_key", key)
    kcol = F.col("_aes_key")
    e_raw = F.floor(F.log10(-kcol)).cast("int")
    e = F.when(kcol == 0, F.lit(AES_E_MIN)).otherwise(
        F.greatest(F.least(e_raw, F.lit(AES_E_MAX)), F.lit(AES_E_MIN))
    )
    keyed = keyed.withColumn("_aes_e", e)
    scale = None
    for exp, lit in _aes_scale_table():
        cond = F.col("_aes_e") == F.lit(exp)
        scale = F.when(cond, F.lit(lit)) if scale is None else scale.when(
            cond, F.lit(lit)
        )
    # saturate |k·scale| at 2^62 BEFORE the bigint cast: at the
    # AES_E_MAX clamp a weight below ~1e-16 puts k·scale outside int64
    # and ANSI mode throws CAST_OVERFLOW (reproduced with weight
    # 1e-300). Saturated keys all share m = -2^62 and fall to the
    # doc_id tiebreak — the A-ES vanishing-weight regime, where "never
    # selected in practice" is the correct semantics. Mirrored in the
    # d31 oracle so both engines saturate identically.
    m_sat = F.greatest(
        F.least(kcol * scale, F.lit(AES_M_SAT)), F.lit(-AES_M_SAT)
    )
    base = keyed.withColumn(
        "_aes_m", F.round(m_sat, 0).cast("long")
    ).drop("_aes_key")
    if strata_col is None:
        out = base.orderBy("_aes_e", F.desc("_aes_m"), "doc_id").limit(k)
        return out.drop("_aes_e", "_aes_m")
    win = W.partitionBy(strata_col).orderBy(
        "_aes_e", F.desc("_aes_m"), "doc_id"
    )
    return (
        base.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_aes_e", "_aes_m", "_rn")
    )


# d31's per-stratum sample size. Small enough that every source keeps
# some selection pressure at sf0.01 (25 docs/source), large enough
# that the A-ES ordering is exercised past its first pick.
D31_SAMPLE_K = 5


def d31_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry certification of `weighted_sample` (Efraimidis–
    Spirakis A-ES): the top-D31_SAMPLE_K docs per source by
    key = ln(u)/n_chars with u the portable md5 uniform of doc_id.
    Deterministic by construction, so the driver can value-hash the
    selected rows against DuckDB running the identical arithmetic —
    certifying the weight transform, the uniform, the per-stratum
    top-k cut AND the quantized (decade, mantissa) ranking that makes
    the cut ulp-robust (the oracle ranks the same (e, m) pair, so a
    last-ulp ln() divergence between the JVM and DuckDB can no longer
    flip the selected set at the rank boundary). Scale shape is
    weighted_sample's: one window top-k per stratum, strata in
    parallel."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(d, D31_SAMPLE_K).orderBy("source", "doc_id")


# The oracle mirrors weighted_sample's quantized ranking exactly:
# same decade clamp, same literal scale table, same bigint round —
# see weighted_sample's docstring for why raw-double ranking would be
# a structural cross-engine flap risk at the rank-k boundary.
ORACLE["d31_weighted_sample"] = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
            / 4294967296.0) / CAST(n_chars AS DOUBLE) AS k
  FROM documents
  WHERE n_chars > 0
), decaded AS (
  SELECT doc_id, source, n_chars, k,
         CASE WHEN k = 0 THEN {AES_E_MIN}
              ELSE GREATEST(LEAST(CAST(FLOOR(log10(-k)) AS INTEGER),
                                  {AES_E_MAX}), {AES_E_MIN})
         END AS e
  FROM keyed
), quantized AS (
  SELECT doc_id, source, n_chars, e,
         CAST(round(GREATEST(LEAST(k * ({_aes_scale_case_sql()}),
                                   {AES_M_SAT!r}),
                             -{AES_M_SAT!r})) AS BIGINT) AS m
  FROM decaded
), ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY e, m DESC, doc_id) AS rn
  FROM quantized
)
SELECT doc_id, source, n_chars FROM ranked
WHERE rn <= {D31_SAMPLE_K}
ORDER BY source, doc_id
"""


# d32's Hamming radius: bands = radius + 1 slices of the 32-bit
# simhash give pigeonhole-complete recall at this radius.
D32_MAX_HAMMING = 3


def d32_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry certification of `simhash_pairs`: ALL document pairs
    within Hamming distance D32_MAX_HAMMING of each other's 32-bit
    SimHash (d08's hash), via the banded pigeonhole join. The oracle
    is the brute-force all-pairs scan — a genuinely independent
    check that the banding + first-match-band dedup reproduce the
    exhaustive answer pair-for-pair (the pytest exhaustive-equality
    test pinned this on a toy corpus; this row certifies it on the
    driver's corpus every round). Scale shape is simhash_pairs':
    candidates shuffle only on (band, slice-value) through
    chunked_self_join — never all-pairs."""
    # r14 opt (guide §2.5, the d33 finding): simhash_frame's 32
    # bit-tests × token-hash array per row is per-row CPU, and the
    # bench-scale documents file scans as ONE task — the whole sig
    # build ran single-core before the banded join. Interleaved A/B
    # ×4 at sf0.1: spread won 4/4, min 1.233 s vs 1.873 s (cold run
    # 2.43 s vs 8.68 s). No-op at real scale (spread_scan contract).
    # d08 keeps the plain scan: its whole row is ~0.3 s and sorted
    # output — below the respread's payoff line.
    sim = simhash_frame(spread_scan(load_table(spark, sf_dir, "documents")))
    return simhash_pairs(
        sim, max_hamming=D32_MAX_HAMMING, bands=D32_MAX_HAMMING + 1
    ).orderBy("a_id", "b_id")


ORACLE["d32_simhash_pairs"] = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, unnest(range(0, {SIMHASH_BITS})) AS bit, h FROM h
), contrib AS (
  SELECT doc_id, bit,
         CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS contrib
  FROM bits
), sums AS (
  SELECT doc_id, bit, sum(contrib) AS s FROM contrib GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id
 AND bit_count(xor(a.simhash, b.simhash)) <= {D32_MAX_HAMMING}
ORDER BY a_id, b_id
"""


# d33's MinHash-estimated-Jaccard gate — the library default (0.5 ≈
# "more seeds agree than not"), exactly representable as k/16 so the
# Spark and DuckDB comparisons see identical doubles.
D33_EST_THRESHOLD = 0.5


def d33_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry certification of the incremental near-dup ingestion
    path (`doc_band_sigs` + `neardup_against_store`): the signature
    STORE is built from the single-digit sources (src0–src9), the
    incoming BATCH from the double-digit ones (src10–src19), and the
    row is every (batch doc, store doc) pair whose band signatures
    collide and whose MinHash-estimated Jaccard clears
    D33_EST_THRESHOLD. This is the production shape of streaming
    near-dup (neardup_store_sink's per-batch join) certified
    end-to-end against DuckDB re-deriving the same minhashes, the
    same 4x4 banding, the same candidate join, and the same
    agreeing-seeds estimate from the raw text. Scale shape: the only
    shuffle keys on (band, sig); the store side is bucketable on
    exactly that key, making ingestion near-dup shuffle-free on the
    100 TB side (neardup_against_store's docstring argues the
    topology; this row pins the semantics)."""
    # documents.parquet at sf0.1 is 0.6 MB — ONE scan task — and
    # without a respread the checkpointed sig frames stay 1-partition,
    # so the band join's 14M collision rows ran on a single core (d09's
    # pipeline avoids this with the same spread_scan). Repartition cost is bounded by the scan itself (see spread_scan);
    # at 100 TB the store scans thousands of partitions wide and this
    # is a no-op.
    d = spread_scan(load_table(spark, sf_dir, "documents"))
    # checkpoint both signature frames: in production the store side
    # is a persisted table and the batch side a materialized
    # micro-batch — and un-pinned, the minhash expression chain gets
    # substituted into the candidate join's downstream consumers
    # (the simhash_pairs hazard; sig rows are 16 longs + 2 ints, so
    # the pin is row-sized)
    store = doc_band_sigs(d.filter(F.length("source") == 4)).localCheckpoint()
    batch = doc_band_sigs(d.filter(F.length("source") == 5)).localCheckpoint()
    return neardup_against_store(
        batch, store, est_threshold=D33_EST_THRESHOLD
    ).orderBy("doc_id", "store_id")


ORACLE["d33_neardup_incremental"] = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(list_distinct({_DUCK_TOKS})) AS tok FROM documents
), h AS (
  SELECT doc_id, source, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok
), seeded AS (
  SELECT doc_id, source, h, unnest(range(0, {MINHASH_SEEDS})) AS seed FROM h
), mh AS (
  SELECT doc_id, source, seed,
         min((h * (999961 + 2 * seed) + 997 * (seed + 1)) % {MINHASH_P}) AS minh
  FROM seeded GROUP BY doc_id, source, seed
), sigs AS (
  SELECT doc_id, source, seed // {MINHASH_SEEDS // JACCARD_BANDS} AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
  FROM mh GROUP BY doc_id, source, band
), cand AS (
  SELECT DISTINCT b.doc_id AS doc_id, s.doc_id AS store_id
  FROM sigs b JOIN sigs s ON b.band = s.band AND b.sig = s.sig
  WHERE length(b.source) = 5 AND length(s.source) = 4
), agree AS (
  SELECT c.doc_id, c.store_id,
         sum(CASE WHEN mb.minh = ms.minh THEN 1 ELSE 0 END) AS a
  FROM cand c
  JOIN mh mb ON mb.doc_id = c.doc_id
  JOIN mh ms ON ms.doc_id = c.store_id AND ms.seed = mb.seed
  GROUP BY c.doc_id, c.store_id
)
SELECT doc_id, store_id,
       round(a / {MINHASH_SEEDS}.0, 6) AS est_jaccard
FROM agree
WHERE a / {MINHASH_SEEDS}.0 >= {D33_EST_THRESHOLD}
ORDER BY doc_id, store_id
"""


def _adjacent_pair_counts(wdf: DataFrame) -> DataFrame:
    """(l, r, pf): corpus-wide adjacent-symbol pair counts over a word
    table, positional (overlaps count: 'aaa' has two (a,a) pairs) and
    weighted by word frequency. Words of one symbol have no pairs
    (sequence(0,-1) would DESCEND — guard with the size filter, not
    with when())."""
    return (
        wdf.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.get("syms", i).alias("l"),
                        F.get("syms", i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("pf"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    min_freq: int = 2,
    text_col: str = "text",
    round_plan_hook=None,
) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016, the
    standard subword algorithm): start from characters (+ an
    end-of-word marker), repeatedly find the corpus-wide most frequent
    adjacent symbol pair and merge it, n_merges times or until the
    best pair drops under min_freq. Returns the learned merge table
    (rank, left, right, merged, freq) — deterministic by
    construction: ties break lexicographically on (left, right), so
    the same corpus always learns the same merges on any engine.

    This is the piece d11's FIXED subword scheme stubs out: a real
    pipeline trains the merges on its own corpus. The distributed
    shape is the textbook one — all iteration state lives in the
    WORD-COUNT table, not the corpus: one tokenize+count pass over
    the corpus up front, then each merge round is (a) one aggregation
    over the word table's adjacent pairs weighted by word frequency,
    (b) a 1-row driver pull (the argmax pair — driver-sized by
    contract), (c) an in-row fold applying the merge to each word's
    symbol array. At 100 TB the corpus is read ONCE; the word table
    (~10^8 rows for web text, Heaps' law) is what shuffles per round,
    and each round localCheckpoints it so the fold lineage never
    deepens (the d12 connected-components pattern). Per-word pair
    counting is positional (overlaps count: 'aaa' has two (a,a)
    pairs), matching the reference implementation; the merge fold is
    greedy left-to-right non-overlapping, also matching — both pinned
    against a plain-Python reference in tests/test_bpe.py.

    The fold is CONDITIONAL per round: a word without both merge
    symbols cannot change (the fold is the identity on it — it
    rebuilds the array element by element and the merge branch never
    fires), so each round computes
    `when(array_contains(syms, left) AND array_contains(syms, right),
    fold).otherwise(syms)` — a sound overapproximation (adjacency is
    what fires the merge, containment is what the guard checks), and
    Catalyst's If evaluates lazily per row, so the interpreted-HOF
    fold runs ONLY on words that can contain the pair. Merges get
    rarer as ranks grow, so fold work decays toward zero rows per
    round while the cheap containment guard stays vectorized; output
    is bit-identical to folding everything (the plain-Python reference
    in test_bpe.py is the oracle; measurements in COVERAGE.md
    "Round-8 measurement").

    Production posture for real vocab sizes: n_merges ~30k means 30k
    sequential argmax rounds — inherent to BPE, not to this
    implementation. The standard large-corpus practice is
    sample-then-train: learn merges on a uniform sample (merge ranks
    stabilize quickly — pair frequencies concentrate), then `bpe_apply`
    the learned table to the full corpus. Train on the sample, encode
    at scale.

    `round_plan_hook(pairs_df, next_words_df)` is a debug-only probe
    (explain_snapshots.py): called once, on the first round, with the
    round's two internal frames BEFORE they are executed/checkpointed
    — the returned merge table is a LocalTableScan, so the per-round
    plans are the ones worth snapshotting. No effect on results.
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            "freq",
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit("</w>"))
            ).alias("syms"),
        )
        .localCheckpoint()
    )
    merges: list[tuple] = []
    for rank in range(n_merges):
        pairs = _adjacent_pair_counts(words)
        top = pairs.orderBy(F.desc("pf"), "l", "r").limit(1).collect()
        if not top or top[0]["pf"] < min_freq:
            break
        left, right, pf = top[0]["l"], top[0]["r"], int(top[0]["pf"])
        merged = left + right
        merges.append((rank, left, right, merged, pf))

        # greedy left-to-right fold: merge fires only when the fold's
        # last emitted symbol is EXACTLY `left` — a symbol produced by
        # this same pass is strictly longer than `left`, so merges
        # never chain within one pass (non-overlapping, reference
        # semantics). Factory closure, not default args: PySpark
        # inspects the lambda's positional arity.
        def make_step(_l: str, _r: str, _m: str):
            def step(acc, s):
                hit = (
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(_l))
                    & (s == F.lit(_r))
                )
                return F.when(
                    hit,
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(_m))
                    ),
                ).otherwise(F.concat(acc, F.array(s)))

            return step

        step = make_step(left, right, merged)
        fold = F.aggregate("syms", F.array().cast("array<string>"), step)
        can = F.array_contains("syms", left) & F.array_contains(
            "syms", right
        )
        # fold only words that can contain the pair (sound
        # overapproximation; the fold is the identity elsewhere — If
        # evaluates lazily per row, so untouched words never run the
        # interpreted HOF)
        nxt = words.select(
            "freq", F.when(can, fold).otherwise(F.col("syms")).alias("syms")
        )
        if rank == 0 and round_plan_hook is not None:
            round_plan_hook(pairs, nxt)
        # r13 opt: LAZY checkpoint — each round previously ran two
        # jobs (the argmax TakeOrdered, then an eager materialization
        # of the folded word table), and at driver-loop cadence the
        # fixed per-job cost dominates the tiny-table compute. With
        # eager=False the NEXT round's argmax job materializes this
        # round's fold on its way to the pair counts — one job per
        # round — while the lineage cut (the reason the checkpoint
        # exists) still lands before any second-round fold stacks on
        # top. The final round's pin simply never materializes (its
        # merges are already collected).
        words = nxt.localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, freq bigint"
    )


def bpe_apply(
    docs: DataFrame, merge_rows: list, text_col: str = "text"
) -> DataFrame:
    """Tokenize with a TRAINED merge table: per word, start from
    characters + '</w>' and apply every merge in rank order (greedy
    left-to-right per rank — exactly the training fold, so encoding
    the training corpus reproduces the trained symbols). Adds a
    `bpe_toks` array<string> column.

    Arrow mapInPandas, not nested HOFs: a production rule set is
    thousands of merges, and one JVM fold PER RANK would re-walk
    every word thousands of times inside interpreted higher-order
    expressions; batch-side Python applies all ranks in one pass per
    word with a dict lookup. The closure is self-contained (executors
    do not have this package on sys.path — the mm01 lesson).
    `merge_rows` is collected driver-side (rank-ordered list of
    (left, right) — merge tables are vocabulary-sized, small enough
    to ship in the closure exactly like a broadcast tokenizer
    model)."""
    ranks = [(m["left"], m["right"]) for m in merge_rows]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ) + ", bpe_toks array<string>"
    _text_col = text_col  # close over STRINGS only (never the DataFrame)

    def encode_batches(batches):
        import pandas as pd

        rank_of = {pair: i for i, pair in enumerate(ranks)}

        def encode_word(word):
            syms = list(word) + ["</w>"]
            while len(syms) >= 2:
                best, best_rank = None, None
                for a, b in zip(syms, syms[1:]):
                    rk = rank_of.get((a, b))
                    if rk is not None and (best_rank is None or rk < best_rank):
                        best, best_rank = (a, b), rk
                if best is None:
                    break
                a, b = best
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

        for pdf in batches:
            # split on single spaces + drop empties: exactly the JVM
            # side's tokens() (str.split() with no arg would also eat
            # tabs/newlines — a silent contract drift)
            toks = [
                [s for w in str(t).split(" ") if w for s in encode_word(w)]
                for t in pdf[_text_col]
            ]
            yield pd.concat(
                [pdf.reset_index(drop=True), pd.Series(toks, name="bpe_toks")],
                axis=1,
            )

    return docs.mapInPandas(encode_batches, out_schema)


# d34: deterministic BPE training on the corpus — rank-ordered merge
# table. No SQL oracle (iterative argmax-and-rewrite is not
# expressible as one DuckDB query); certified instead by
# tests/test_bpe.py's plain-Python reference implementation over the
# same corpus (a stronger independent check than value-hash: the
# reference re-implements the ALGORITHM, not the query), and scored
# rows-only by the driver per the documented contract.
D34_MERGES = 20


def d34_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry row for `bpe_train`: the first D34_MERGES merges
    learned from the documents corpus (rank, left, right, merged,
    freq). Deterministic: lexicographic tie-breaks, no sampling."""
    d = load_table(spark, sf_dir, "documents")
    return bpe_train(d, n_merges=D34_MERGES).orderBy("rank")


# ---- d35 (REGISTERED in r9 per the REGISTRY.md window schedule) ----
# Fixed merge table for certifying bpe_apply against a SQL oracle.
# Since r13 the table IS the first 12 merges bpe_train learns on the
# DRIVER corpus (sf0.01 documents — the r12 verdict's task 5), pinned
# by tests/test_bpe.py::test_d35_merges_are_d34s_learned_prefix: a
# training defect in d34 (the registry's only rows-only row) now
# flips a pytest assertion tied to an oracle-backed row instead of
# hiding behind a hand-picked constant. Kept as a literal (not
# computed at query time) so d35/d37 stay cheap and SF-independent:
# the encode exercises chained merges (er→er</w>, ow→ow</w>) and
# </w> merges on every corpus, and at non-driver SFs it is simply a
# fixed-tokenizer apply, which is the production posture anyway
# (tokenizers are trained once, applied everywhere).
D35_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("e", "</w>"),
    ("n", "</w>"),
    ("er", "</w>"),
    ("o", "w"),
    ("ow", "</w>"),
    ("o", "r"),
    ("s", "t"),
    ("h", "</w>"),
    ("a", "t"),
    ("l", "u"),
    ("i", "n"),
]


def _d35_encode_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array-form encode — (doc_id, bpe_toks array<string>).
    Library form, pinned by test_d35_draft_... against both the DuckDB
    replay and a plain-Python min-rank-first encoder. The REGISTERED
    row (d35_bpe_encode) flattens this to a space-joined string — the
    r9 driver row went red on SHAPE, not values: the harness
    canonicalizer sorts the result frame before hashing, and pandas
    sort_values over numpy-array cells throws `unhashable type`.
    Registry convention since r10: driver-row outputs are scalar
    columns only (see operators/__init__.py)."""
    merge_rows = [
        {"left": lt, "right": rt} for lt, rt in D35_MERGES
    ]
    # spread_scan: the per-word Python encode is per-row CPU and the
    # small corpus file scans as one task (the d09 lesson — measured:
    # d37's aggregate over this encode 1.26 s serial vs 1.00 s spread
    # at sf0.1; the gap widens with merge-table size, and D35's fixed
    # 12-rank table is the cheap end of that curve).
    d = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return bpe_apply(d, merge_rows).select("doc_id", "bpe_toks")


def d35_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bpe_apply with the FIXED D35_MERGES table over the documents
    corpus — (doc_id, bpe_toks) with the token array space-joined to
    ONE scalar string per doc. Registry certification of the ENCODE
    half of BPE (d34 certifies training); the oracle replays the same
    merges in DuckDB. The join is lossless: tokens come from words
    split on ' ', so no token can contain a space.

    Why an oracle exists at all for an iterative encoder: (a) with
    tokens DOUBLE-separated in the interior and single-separated at
    the edges, ONE greedy left-to-right non-overlapping merge
    application is exactly SQL
    `replace(s, sep||l||sep||sep||r||sep, sep||l||r||sep)` — the
    flanking separators force whole-token matches (the naive
    single-separator form false-merges when a neighbor token merely
    starts with r or ends with l, e.g. 'i' + 'n</w>' matching 'i␟n';
    found the round the table became d34's learned prefix), each
    match consumes one separator of the following double and the
    replacement restores it, and replace never rescans replaced
    output; (b) replaying merges in RANK ORDER is equivalent to
    bpe_apply's min-rank-first loop, because a merge only ever
    CREATES adjacencies involving its own output symbol, and any
    learned pair containing that symbol has a later rank — so after
    rank k is applied exhaustively, no pair of rank <= k can ever
    reappear. The replay is a rank-indexed recursive CTE of depth
    len(D35_MERGES)."""
    return (
        _d35_encode_frame(spark, sf_dir)
        .select("doc_id", F.array_join("bpe_toks", " ").alias("bpe_toks"))
        .orderBy("doc_id")
    )


def _d35_oracle_sql() -> str:
    vals = ", ".join(
        f"({i}, '{lt}', '{rt}')" for i, (lt, rt) in enumerate(D35_MERGES)
    )
    n = len(D35_MERGES)
    return f"""
WITH RECURSIVE merges(rank, l, r) AS (
  VALUES {vals}
), words AS (
  -- token encoding: single separator at the string edges, DOUBLE
  -- separator between tokens, so a merge pattern anchored as
  -- sep||l||sep||sep||r||sep can only match a WHOLE left token l
  -- followed by a WHOLE right token r. The r12 single-separator form
  -- false-merged when a neighbor token merely STARTED with r (i + ␟
  -- + n</w> contains 'i␟n') — unreachable under the hand-picked r9
  -- table, exposed the round D35_MERGES became d34's learned prefix
  -- ('n' is a prefix of 'n</w>'). Each match consumes one sep of the
  -- following double, and the replacement restores it, so the
  -- invariant survives every step and left-to-right non-overlapping
  -- replace stays exactly one greedy merge application.
  SELECT doc_id, pos,
         chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31) || chr(31), 'g')
           || '</w>' || chr(31) AS s
  FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
  )
  WHERE w <> ''
), enc AS (
  SELECT doc_id, pos, s, 0 AS step FROM words
  UNION ALL
  SELECT e.doc_id, e.pos,
         replace(e.s,
                 chr(31) || m.l || chr(31) || chr(31) || m.r || chr(31),
                 chr(31) || m.l || m.r || chr(31)),
         e.step + 1
  FROM enc e JOIN merges m ON m.rank = e.step
  WHERE e.step < {n}
)
SELECT doc_id,
       flatten(list(
         list_filter(string_split(s, chr(31)), x -> x <> '')
         ORDER BY pos)) AS bpe_toks
FROM enc
WHERE step = {n}
GROUP BY doc_id
ORDER BY doc_id
"""


D35_ORACLE_DRAFT = _d35_oracle_sql()
# The registered oracle mirrors the Spark side's array_join — the
# inner array-form replay stays intact because d37's oracle aggregates
# it (len(bpe_toks)) and the pytest pin compares it token-for-token.
D35_ORACLE = f"""
WITH d35_inner AS ({D35_ORACLE_DRAFT})
SELECT doc_id, array_to_string(bpe_toks, ' ') AS bpe_toks
FROM d35_inner ORDER BY doc_id
"""
ORACLE["d35_bpe_encode"] = D35_ORACLE


# ---------------------------------------------------------------------------
# PII redaction (d36 draft — library-only this round per REGISTRY.md's
# zero-spare r8 window; the draft oracle below is proven by pytest the
# same way d35's was before registration)

# (name, pattern, replacement) applied IN ORDER — emails first (they
# contain dots and digits the later patterns could chew on), then
# IPv4, then phone-shaped digit runs. Patterns stay inside the
# regex subset Java (Spark) and RE2 (DuckDB) implement identically:
# char classes, bounded/unbounded repetition, non-capturing groups,
# ASCII \b — no lookaround, no backrefs. The phone pattern is the
# deliberately-simple C4-style digit-run form (a leading +/digit, ≥6
# phone chars, a closing digit); a deployment swaps in
# jurisdiction-specific patterns — the operator shape (sequential
# count+replace passes, all in-row) is what carries to 100 TB: one
# scan, zero shuffles, whole-stage codegen end to end.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d .()-]{6,}\d", "<PHONE>"),
)


def redact_pii(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub personally identifiable text spans (the C4/Dolma
    pre-training hygiene stage): sequentially count-then-replace each
    PII_PATTERNS entry, emitting per-type match counts and the
    redacted text. Counts are taken on the text AS THE PASS SEES IT
    (post earlier replacements) — exactly the number of spans that
    pass rewrote, so `sum(n_*)` is the audit total of redactions.

    Each pass lands in its own projection step: Catalyst does no CSE
    into sibling expressions (the d22 lesson), so a single-select form
    would re-run the whole replace chain once per count column;
    stepwise selects materialize each intermediate text exactly once
    inside one codegen stage. Output: the input columns plus
    n_email/n_ip/n_phone (int) and `redacted` (string)."""
    work = "__pii_work"
    cur = d.select("*", F.col(text_col).alias(work))
    for name, pat, tok in PII_PATTERNS:
        cur = cur.select(
            "*", F.regexp_count(F.col(work), F.lit(pat)).cast("int").alias(f"n_{name}")
        ).withColumn(work, F.regexp_replace(F.col(work), pat, tok))
    return cur.withColumnRenamed(work, "redacted")


def _d36_oracle_sql() -> str:
    """DuckDB replay of redact_pii over `documents` — generated from
    PII_PATTERNS so both engines share one source of truth. DuckDB
    regexp_replace needs the 'g' flag for replace-all (Spark's
    replaces all by default); counts via len(regexp_extract_all),
    cast to INTEGER to match Spark's int."""
    inner = "SELECT doc_id, text AS t FROM documents"
    for name, pat, _tok in PII_PATTERNS:
        sq = pat.replace("'", "''")
        rq = _tok.replace("'", "''")
        inner = (
            f"SELECT doc_id, CAST(len(regexp_extract_all(t, '{sq}')) AS INTEGER)"
            f" AS n_{name}, regexp_replace(t, '{sq}', '{rq}', 'g') AS t,"
            f" * EXCLUDE (doc_id, t) FROM ({inner})"
        )
    return (
        f"SELECT doc_id, n_email, n_ip, n_phone, t AS redacted"
        f" FROM ({inner}) ORDER BY doc_id"
    )


D36_ORACLE_DRAFT = _d36_oracle_sql()


def d36_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d36 registry form (REGISTERED r10 per the REGISTRY.md
    queue): redact_pii over the documents table, projected to the
    oracle's column set."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return redact_pii(d).select(
        "doc_id", "n_email", "n_ip", "n_phone", "redacted"
    ).orderBy("doc_id")


ORACLE["d36_redact_pii"] = D36_ORACLE_DRAFT


# ---------------------------------------------------------------------------
# Tokenizer evaluation (d37 draft — library-only this round, the d35/
# d36 protocol): fertility + compression per source under a fixed
# merge table. Fertility (subwords emitted per word) is the standard
# tokenizer-quality metric a data pipeline tracks per source/language
# — a source whose fertility spikes is one the tokenizer represents
# poorly, which shows up directly as wasted sequence length at
# training time.


def d37_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer stats under the FIXED D35_MERGES table:
    document/word/subword counts, fertility = subwords/word, and
    chars_per_subword = word characters/subword (compression). One
    Arrow encode pass (bpe_apply carries source through), one tiny
    per-source aggregate — the corpus shuffles only the 6 aggregation
    columns, never the token arrays. The oracle reuses d35's proven
    recursive-CTE replay and aggregates it the same way."""
    d = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    merge_rows = [{"left": lt, "right": rt} for lt, rt in D35_MERGES]
    enc = bpe_apply(d, merge_rows).select(
        "source",
        F.size(tokens("text")).alias("nw"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("nc"),
        F.size("bpe_toks").alias("ns"),
    )
    return (
        enc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nw").cast("long").alias("n_words"),
            F.sum("ns").cast("long").alias("n_subwords"),
            F.round(F.sum("ns") / F.sum("nw"), 6).alias("fertility"),
            F.round(F.sum("nc") / F.sum("ns"), 6).alias("chars_per_subword"),
        )
        .orderBy("source")
    )


def bigram_logprob(d: DataFrame) -> DataFrame:
    """Per-document NLL/perplexity under the corpus BIGRAM LM (d38
    draft — the CCNet-style fluency signal one order up from d27's
    unigram): position 0 scores ln P(w0) = c(w0)/T, every following
    position scores the conditional ln P(w_i | w_{i-1}) =
    c(w_{i-1}, w_i) / Σ_w c(w_{i-1}, w); nll is the per-token average
    of the negated sum, ppl = exp(nll). MLE on the scoring corpus
    itself, so every bigram is seen by construction (no backoff
    branch to certify).

    The scale shape is deliberately NOT d27's — a bigram LM is
    |distinct bigrams| rows, too big to PIN as a broadcast — and it is
    not a token-keyed window either (the r8 ADVICE finding: a window
    partitioned by token puts every occurrence of a stopword on ONE
    partition — the classic hot spot at corpus scale). Instead the
    counts are map-combined GROUP BYs — a hot token collapses to one
    row per map task before any shuffle — and the scoring stream
    reduces to per-doc DISTINCT bigram multiplicities on
    (doc_id, w, w2), a key doc_id keeps spread. The LM tables then
    join back onto that reduced stream: vocabulary-sized and
    bigram-vocabulary-sized frames AQE can broadcast when they fit
    and skew-split when they don't — the standard shuffle-join
    remedies, none of which exist for a window. T is the one driver
    scalar (d27's contract)."""
    # r14 NEGATIVE (guide §2.5 offered, then reverted on calm
    # evidence): a spread_scan here won its original A/B ×4 (min
    # 0.971 vs 1.157 s) — but that session ran in a host throttle
    # phase where the single-task pin materialization was the
    # amplified bottleneck. Re-measured calm (cal ≈ 2.4): plain won
    # 5/5 on d38 (min 1.064 vs 1.158, median 1.13 vs 2.03) and 5/5 on
    # d42 (min 2.026 vs 2.680, with the spread arm spiking 8-16 s —
    # the d09-respread burst-amplification pathology: the extra
    # exchange + wider task fan gives steal bursts more surface). The
    # tokenize+explode is too light to need the width; contrast
    # d32_simhash_pairs, whose CPU-dense simhash build KEEPS its
    # spread (5/5 calm win, min 1.23 vs 1.73). d27's pipeline measured
    # the same way (plain 4/4) and stays plain too.
    base = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.get("toks", i).alias("w"),
            F.get("toks", i + 1).alias("w2"),  # null at the doc end
        ),
    )
    # Pin the exploded (doc_id, n, pos, w, w2) stream ONCE (r13 opt:
    # the four downstream aggregations — uni, bg, docbg, first — each
    # sat above their own scan, so the corpus was tokenized + exploded
    # FIVE times per run, plus a sixth full pass for the t_total
    # scalar; plans/r13/d38_bigram_logprob_before.txt shows the five
    # Scan+Generate subtrees). The checkpoint is LAZY so its
    # materialization job IS the t_total job: ex has exactly one row
    # per token position (sequence(0, n-1) emits n structs), so
    # count(ex) == sum(size(toks)) — the same scalar the old separate
    # pre-pass computed. At 100 TB this trades one disk-backed
    # materialization of the thin token stream for five regex-tokenize
    # passes of the raw corpus — the same materialize-the-reused-
    # narrow-frame posture d09's shs checkpoint takes.
    ex = (
        base.select(
            "doc_id", F.size("toks").alias("n"), F.explode(pairs).alias("x")
        )
        .select("doc_id", "n", "x.pos", "x.w", "x.w2")
        .localCheckpoint(eager=False)
    )
    t_total = float(ex.count())
    # corpus LM tables — partial aggregation makes these skew-immune
    uni = ex.groupBy("w").agg(
        F.count("*").alias("c_uni"), F.count("w2").alias("c_ctx")
    )
    bigr = ex.filter(F.col("w2").isNotNull())
    bg = bigr.groupBy("w", "w2").agg(F.count("*").alias("c_bg"))
    # per-doc distinct-bigram multiplicities: the heavy stream's only
    # shuffle keys on (doc_id, w, w2) — never on a bare token
    docbg = bigr.groupBy("doc_id", "w", "w2").agg(F.count("*").alias("m"))
    bgterm = (
        docbg.join(bg, ["w", "w2"])
        .join(uni.select("w", "c_ctx"), "w")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("m")
                * F.log(F.col("c_bg").cast("double") / F.col("c_ctx"))
            ).alias("lp_bg")
        )
    )
    first = (
        ex.filter(F.col("pos") == 0)
        .join(uni.select("w", "c_uni"), "w")
        .select(
            "doc_id",
            "n",
            F.log(F.col("c_uni").cast("double") / F.lit(t_total)).alias("lp0"),
        )
    )
    nll = F.round(
        -(F.col("lp0") + F.coalesce(F.col("lp_bg"), F.lit(0.0))) / F.col("n"), 6
    )
    return (
        first.join(bgterm, "doc_id", "left")
        .select("doc_id", F.col("n").alias("n_tokens"), nll.alias("nll"))
        .withColumn("ppl", F.round(F.exp("nll"), 6))
        .orderBy("doc_id")
    )


def d38_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d38 registry form (REGISTRY.md — registered r11 on the
    two-per-round schedule): bigram_logprob over the documents table.
    Output is scalar-only (doc_id, n_tokens, nll, ppl) so the row
    satisfies the driver canonicalizer convention from day one."""
    return bigram_logprob(load_table(spark, sf_dir, "documents"))


# The oracle mirrors the m-weighted grouped formulation (NOT a
# token-partitioned window) so both engines sum the SAME per-doc term
# list — keeping the float-summation structure aligned under the 6dp
# round, exactly like the Spark side's skew-robust shape.
D38_ORACLE_DRAFT = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
  WHERE len({_DUCK_TOKS}) > 0
), tot AS (
  SELECT CAST(sum(len(toks)) AS DOUBLE) AS T FROM t
), ex AS (
  SELECT doc_id, len(toks) AS n,
         unnest(list_transform(range(1, len(toks) + 1),
                i -> struct_pack(pos := i - 1, w := toks[i],
                                 w2 := toks[i + 1]))) AS x
  FROM t
), rows_ AS (
  SELECT doc_id, n, x.pos AS pos, x.w AS w, x.w2 AS w2 FROM ex
), uni AS (
  SELECT w, count(*) AS c_uni, count(w2) AS c_ctx FROM rows_ GROUP BY w
), bg AS (
  SELECT w, w2, count(*) AS c_bg FROM rows_
  WHERE w2 IS NOT NULL GROUP BY w, w2
), docbg AS (
  SELECT doc_id, w, w2, count(*) AS m FROM rows_
  WHERE w2 IS NOT NULL GROUP BY doc_id, w, w2
), bgterm AS (
  SELECT d.doc_id,
         sum(d.m * ln(CAST(bg.c_bg AS DOUBLE) / CAST(uni.c_ctx AS DOUBLE)))
           AS lp_bg
  FROM docbg d
  JOIN bg USING (w, w2)
  JOIN uni USING (w)
  GROUP BY d.doc_id
), first_ AS (
  SELECT f.doc_id, f.n,
         ln(CAST(uni.c_uni AS DOUBLE) / (SELECT T FROM tot)) AS lp0
  FROM (SELECT doc_id, n, w FROM rows_ WHERE pos = 0) f
  JOIN uni USING (w)
), agg AS (
  SELECT f.doc_id, CAST(f.n AS INTEGER) AS n_tokens,
         round(-(f.lp0 + coalesce(b.lp_bg, 0.0)) / f.n, 6) AS nll
  FROM first_ f LEFT JOIN bgterm b ON b.doc_id = f.doc_id
)
SELECT doc_id, n_tokens, nll, round(exp(nll), 6) AS ppl
FROM agg ORDER BY doc_id
"""
# Registered r11 (REGISTRY.md queue): the draft oracle becomes the
# certified oracle unchanged — proven since r8 by
# tests/test_pipeline_ops.py (hand-computed values + DuckDB replay at
# sf0.001 and sf0.01).
ORACLE["d38_bigram_logprob"] = D38_ORACLE_DRAFT


def _d37_oracle_sql() -> str:
    """d35's replay, aggregated per source. The inner encode is the
    ALREADY-PROVEN D35 recursive CTE (test_d35_draft_... pins it
    against both Spark and a plain-Python encoder); this wrapper only
    joins source back on and sums."""
    inner = _d35_oracle_sql()
    return f"""
WITH bpe AS ({inner})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS n_words,
       CAST(sum(len(bpe.bpe_toks)) AS BIGINT) AS n_subwords,
       round(CAST(sum(len(bpe.bpe_toks)) AS DOUBLE)
             / sum(len({_DUCK_TOKS})), 6) AS fertility,
       round(CAST(sum(len(replace(d.text, ' ', ''))) AS DOUBLE)
             / sum(len(bpe.bpe_toks)), 6) AS chars_per_subword
FROM documents d JOIN bpe ON d.doc_id = bpe.doc_id
GROUP BY d.source
ORDER BY d.source
"""


D37_ORACLE_DRAFT = _d37_oracle_sql()
ORACLE["d37_tokenizer_fertility"] = D37_ORACLE_DRAFT
# ---- end d35 draft ----


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (d40 — drafted r9, REGISTERED r12
# on the queue schedule, the d36/d37 protocol). The Lee et al.
# 2022 finding ("Deduplicating Training Data Makes Language Models
# Better"): verbatim substrings repeated ACROSS documents — boiler-
# plate, licence blocks, templated passages — survive document-level
# near-dup removal (d07/d09 score whole docs) and are exactly what a
# model memorizes. The paper builds a corpus-wide suffix array; the
# Spark-first shape is k-gram anchoring + diagonal islands:
#
#   1. every k-token shingle of every doc, with its position;
#   2. self-join on the shingle hash — two docs sharing any k-gram
#      produce matched (pos_a, pos_b) anchor points;
#   3. a shared span of L >= k tokens is exactly a run of L-k+1
#      consecutive anchors on one DIAGONAL (pos_a - pos_b constant),
#      so a per-(pair, diagonal) gaps-and-islands pass merges anchors
#      into maximal spans with no further corpus access.
#
# Scale shape: step 1 is one explode (|tokens| rows, thin: hash +
# two ints); step 2 is a PLAIN self-join on the gram hash — millions
# of distinct keys with typical df 1-2, so hashing the keys across
# tasks spreads the work by itself (the chunk valve the LSH joins use
# is for the opposite, few-bucket regime, and its ~C/2 shuffle
# replication cost 49x here — see the join comment and COVERAGE.md
# r10 spans100x); the boilerplate hot gram — thousands of docs
# sharing one gram, a quadratic join-OUTPUT blowup no input-byte
# skew handling can see — is removed BEFORE the join by the
# gram-frequency cap (`max_gram_df`, the rare-anchor idea implicit
# in the paper's suffix pruning); step 3 windows on (doc_a, doc_b,
# diag) — fine-grained keys, no hot partition possible. The default
# keeps every gram so the DuckDB oracle replays the contract exactly.

SPAN_KGRAM = 6


def dup_spans(
    d: DataFrame,
    k: int = SPAN_KGRAM,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Maximal cross-document duplicated token spans (>= `k` tokens).

    Returns one row per maximal span: (doc_a, doc_b, a_start, b_start,
    span_tokens) with doc_a < doc_b and 1-based token positions. A
    span of L tokens appears once with span_tokens = L, never as its
    sub-spans (maximality via diagonal islands). `max_gram_df` is the
    scale valve: grams occurring at more than that many positions
    corpus-wide are dropped from anchoring (None = exact contract,
    what the oracle replays).

    Join key is hash60(gram) — both engines derive it from the same
    md5 prefix, so even the (negligible) collision behavior is
    identical on the Spark and DuckDB sides.
    """
    toks = spread_scan(d.select("doc_id", "text")).select(
        "doc_id", tokens("text").alias("toks")
    )
    pos = (
        toks.select(
            "doc_id", F.posexplode(shingles(F.col("toks"), k)).alias("p0", "gram")
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("int").alias("pos"),
            hash60(F.col("gram")).alias("gh"),
        )
    )
    if max_gram_df is not None:
        hot = (
            pos.groupBy("gh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_gram_df)
            .select("gh")
        )
        pos = pos.join(F.broadcast(hot), "gh", "left_anti")
    # Unique per-row order key inside a gram bucket. Radix 2^28 splits
    # the long as doc_id:35 bits / pos:28 bits — ~34B docs at ~268M
    # tokens each, the right balance for a 100 TB corpus (the r9
    # ADVICE finding: the old 2^20 radix would silently alias pk
    # across docs past ~1M tokens). Out-of-range rows now fail LOUDLY
    # instead of corrupting the pair-uniqueness invariant.
    pos = pos.withColumn(
        "pk",
        F.when(
            (F.col("pos") < F.lit(1 << 28))
            & (F.col("doc_id") >= 0)
            & (F.col("doc_id") < F.lit(1 << 34)),
            F.col("doc_id") * F.lit(1 << 28) + F.col("pos"),
        ).otherwise(
            F.raise_error(
                F.lit(
                    "dup_spans: pk radix overflow — pos >= 2^28 or "
                    "doc_id outside [0, 2^34)"
                )
            )
        ),
    )
    # r13 opt: pin the anchor frame — the self-join consumes `pos` on
    # BOTH sides, and each side previously re-ran tokenize + shingle +
    # hash60 from its own scan (2 Scan+Generate subtrees in
    # plans/r13/d40_dup_spans_before.txt). The frame is 4 thin numeric
    # columns, the cheapest possible thing to materialize relative to
    # the k-gram shingling it replaces.
    pos = pos.localCheckpoint(eager=False)
    # PLAIN self-join, NOT chunked_self_join (r10 spans100x finding).
    # The chunk valve exists for joins with FEW distinct keys (d07's
    # 16 LSH buckets, d32's 2^width band values) where one bucket's
    # quadratic pair generation would serialize into one task; it
    # pays for that by replicating the left side ~C/2 times through
    # the shuffle. dup_spans is the opposite regime: |distinct grams|
    # is ~|corpus positions| (millions of keys, typical df 1-2), so
    # hashing the keys across tasks already spreads the work, and the
    # valve's 16x shuffle replication dominated the wall — measured
    # on the salted 500k-doc corpus: 489.6 s valved vs 9.9 s plain
    # for the identical 28,500-span output (49x), with linear growth
    # 1x/10x/100x = 1.7/4.2/9.9 s. The hot-gram risk a plain join
    # does retain (a boilerplate gram's C(df,2) output explodes in
    # one SMJ task — AQE skew split keys on INPUT partition bytes and
    # cannot see join-output blowup) is exactly what `max_gram_df`
    # removes BEFORE the join: with a cap, per-key output is bounded
    # by C(cap,2); without one, exact mode is the oracle-parity
    # contract for corpora small enough to enumerate every pair
    # anyway. pk ordering emits each unordered pair of distinct rows
    # exactly once.
    j = pos.alias("a").join(
        pos.alias("b"),
        (F.col("a.gh") == F.col("b.gh")) & (F.col("a.pk") < F.col("b.pk")),
    )
    # Drop same-doc anchors — within-doc repetition is d16's contract,
    # not this one's. doc_id fills pk's high bits, so a.pk < b.pk
    # across docs already means a.doc_id < b.doc_id.
    anchors = j.filter(F.col("a.doc_id") != F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("ai"),
        F.col("b.pos").alias("bi"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("ai")
    isl = anchors.withColumn("diag", F.col("ai") - F.col("bi")).withColumn(
        "grp", F.col("ai") - F.row_number().over(w)
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("ai").cast("int").alias("a_start"),
            F.min("bi").cast("int").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).cast("int").alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )


def d40_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d40 registry form (REGISTERED r12 — REGISTRY.md queue):
    maximal cross-doc duplicated spans over documents."""
    d = load_table(spark, sf_dir, "documents")
    return dup_spans(d).orderBy("doc_a", "doc_b", "a_start", "b_start")


D40_ORACLE_DRAFT = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS s FROM documents
), pos AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         ('0x' || substr(md5(array_to_string(s[i:i+{SPAN_KGRAM}-1], ' ')), 1, 15))::BIGINT AS gh
  FROM toks, unnest(generate_series(1, len(s) - {SPAN_KGRAM} + 1)) AS t(i)
  WHERE len(s) >= {SPAN_KGRAM}
), m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS ai, b.pos AS bi
  FROM pos a JOIN pos b ON a.gh = b.gh AND a.doc_id < b.doc_id
), isl AS (
  SELECT doc_a, doc_b, ai - bi AS diag, ai, bi,
         ai - row_number() OVER (PARTITION BY doc_a, doc_b, ai - bi ORDER BY ai) AS grp
  FROM m
)
SELECT doc_a, doc_b,
       CAST(min(ai) AS INTEGER) AS a_start,
       CAST(min(bi) AS INTEGER) AS b_start,
       CAST(count(*) + {SPAN_KGRAM} - 1 AS INTEGER) AS span_tokens
FROM isl
GROUP BY doc_a, doc_b, diag, grp
ORDER BY doc_a, doc_b, a_start, b_start
"""


# ---------------------------------------------------------------------------
# Model-based quality scoring (d41 — drafted r9, REGISTERED r12 on
# the queue schedule). d03/d24 are HEURISTIC
# quality signals (length/punctuation/stopword ratios); the standard
# production filter is a trained linear text classifier scored over
# hashed word n-grams (the fastText shape used by CCNet and the GPT-3
# data work). The SCORING operator is what the pipeline runs at
# corpus scale, and it is pure per-row compute: hash each unigram and
# bigram, look up its weight, average, squash. Weights here come from
# the portable md5 formula (w = (hash32(g) % 2001 - 1000)/1000, the
# _plane_weights construction) so both engines score with the SAME
# model and no weight table needs shipping; a real deployment swaps
# in trained weights as a broadcast map lookup — the plan shape
# (zero shuffles until the final sort) is identical.


def quality_classifier(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Hashed linear quality score per document.

    grams = unigrams + bigrams; w(g) = (hash32(g) % 2001 - 1000)/1000;
    score = sigmoid(mean weight), rounded to 6dp; label = 'keep' iff
    score >= 0.5 (empty docs have mean 0 → score 0.5 → keep). All
    in-row HOFs — the corpus never shuffles; whole-stage codegen end
    to end.
    """
    toks = tokens(text_col)
    d = d.select("*", toks.alias("__t")).select(
        "*", F.concat(F.col("__t"), shingles(F.col("__t"), 2)).alias("__g")
    )
    wsum = F.aggregate(
        F.transform(
            F.col("__g"),
            lambda g: (hash32(g) % F.lit(2001) - F.lit(1000)) / F.lit(1000.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.size(F.col("__g"))
    mean = F.when(n > 0, wsum / n).otherwise(F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 6)
    return (
        d.withColumn("n_grams", n.cast("int"))
        .withColumn("score", score)
        .withColumn(
            "label", F.when(F.col("score") >= 0.5, F.lit("keep")).otherwise(F.lit("drop"))
        )
        .drop("__t", "__g")
    )


def d41_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d41 registry form (REGISTERED r12 — REGISTRY.md queue):
    hashed linear quality scores over documents."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        quality_classifier(d)
        .select("doc_id", "n_grams", "score", "label")
        .orderBy("doc_id")
    )


D41_ORACLE_DRAFT = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS s FROM documents
), g AS (
  SELECT doc_id,
         list_concat(
           s,
           CASE WHEN len(s) >= 2
                THEN list_transform(generate_series(1, len(s) - 1),
                                    i -> s[i] || ' ' || s[i + 1])
                ELSE [] END
         ) AS gs
  FROM t
), sc AS (
  SELECT doc_id,
         CAST(len(gs) AS INTEGER) AS n_grams,
         CASE WHEN len(gs) > 0
              THEN list_aggregate(
                     list_transform(gs, x ->
                       ((('0x' || substr(md5(x), 1, 8))::BIGINT % 2001) - 1000)
                       / 1000.0),
                     'sum') / len(gs)
              ELSE 0.0 END AS m
  FROM g
)
SELECT doc_id, n_grams,
       round(1.0 / (1.0 + exp(-m)), 6) AS score,
       CASE WHEN round(1.0 / (1.0 + exp(-m)), 6) >= 0.5
            THEN 'keep' ELSE 'drop' END AS label
FROM sc
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Duplicated-span REMOVAL (d43 draft) — the second half of Lee et al.
# 2022: d40 finds the maximal cross-doc duplicated spans; this
# operator applies the edit, excising every duplicated occurrence
# EXCEPT the first (the pair orientation doc_a < doc_b makes "first"
# deterministic: a span is removed from the b side, so chains
# (1,2),(2,3) keep exactly doc 1's copy). The edit is formulated as a
# POSITION SET, not interval arithmetic: each span explodes to its
# (doc, pos) cells, distinct unions overlapping spans for free, and a
# left-anti join drops exactly those tokens — three engine-agnostic
# relational steps where interval-merge islands would be a second
# window stack. Scale shape: the position stream is O(total span
# tokens) keyed by doc_id (fine-grained — no hot partition), and the
# rebuild's per-doc position sort is work a reassembly inherently
# needs (the one array-valued aggregate; at corpus scale rebuild
# output is written straight back to storage, d33's map-fix lesson
# does not apply because the doc IS the output here).


def dedup_spans_apply(
    d: DataFrame,
    k: int = SPAN_KGRAM,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Remove duplicated spans (d40's output) from each pair's later
    doc: (doc_id, n_tokens, n_removed, text_clean), every input doc
    present, text rebuilt single-spaced from the kept tokens."""
    spans = dup_spans(d, k=k, max_gram_df=max_gram_df)
    rm = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(
            F.sequence(
                F.col("b_start"), F.col("b_start") + F.col("span_tokens") - 1
            )
        ).alias("pos"),
    ).distinct()
    toks = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).cast("int").alias("pos"), "tok")
    kept = toks.join(rm, ["doc_id", "pos"], "left_anti")
    reb = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
    base = d.select("doc_id", F.size(tokens("text")).alias("n_tokens"))
    return (
        base.join(reb, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_after"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
        .orderBy("doc_id")
    )


def d43_dedup_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d43 registry form (NOT registered until the window allows —
    REGISTRY.md): dup-span removal over the documents table."""
    return dedup_spans_apply(load_table(spark, sf_dir, "documents"))


D43_ORACLE_DRAFT = f"""
WITH spans AS ({D40_ORACLE_DRAFT}),
rm AS (
  SELECT DISTINCT doc_b AS doc_id, CAST(p AS INTEGER) AS pos
  FROM spans,
       unnest(generate_series(b_start, b_start + span_tokens - 1)) AS u(p)
), toks AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos, s[i] AS tok
  FROM (SELECT doc_id, {_DUCK_TOKS} AS s FROM documents),
       unnest(generate_series(1, len(s))) AS t(i)
), kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t ANTI JOIN rm USING (doc_id, pos)
), reb AS (
  SELECT doc_id, count(*) AS n_after,
         string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_tokens FROM documents
)
SELECT b.doc_id, b.n_tokens,
       CAST(b.n_tokens - coalesce(r.n_after, 0) AS INTEGER) AS n_removed,
       coalesce(r.text_clean, '') AS text_clean
FROM base b LEFT JOIN reb r USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (d42 draft). CCNet's defining corpus
# operation: score every document's LM perplexity, split the corpus
# into head/middle/tail, and report the per-source bucket mix that
# drives the final sampling decision. The scale-honest form applies
# FIXED thresholds (CCNet computes its cutoffs once on a sample per
# language, then applies them as constants at corpus scale — a global
# exact ntile would be a single-partition sort of every doc, the
# precise shape the d38 reshape removed); `suggest_ppl_thresholds`
# below is the offline half, the suggest_bands pattern's third
# application. Bucket decisions compare the 6dp-ROUNDED ppl both
# engines already agree on bit-for-bit (the proven d38 parity), so
# threshold boundaries carry no cross-engine float risk.

PPL_T1, PPL_T2 = 29.2, 29.93


def perplexity_bucket(
    d: DataFrame, t1: float = PPL_T1, t2: float = PPL_T2
) -> DataFrame:
    """Per-document CCNet bucket label over the d38 bigram-LM score:
    head (ppl < t1), middle (ppl < t2), tail (rest)."""
    if not t1 < t2:
        raise ValueError(f"thresholds must increase, got {t1}, {t2}")
    return bigram_logprob(d).withColumn(
        "bucket",
        F.when(F.col("ppl") < t1, F.lit("head"))
        .when(F.col("ppl") < t2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def suggest_ppl_thresholds(
    scored: DataFrame, fractions: tuple = (1 / 3, 2 / 3)
) -> tuple:
    """The offline cutoff computation: approximate ppl quantiles at
    the requested corpus fractions (CCNet's head/middle split). One
    percentile_approx scalar — runs at any corpus size; feed the
    result to perplexity_bucket as literals."""
    lo, hi = fractions
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"fractions must satisfy 0 < lo < hi < 1, got {fractions}")
    row = scored.agg(
        F.percentile_approx(
            "ppl", F.lit([float(lo), float(hi)]), F.lit(10_000)
        ).alias("q")
    ).first()
    t1, t2 = (float(x) for x in row["q"])
    return t1, t2


def d42_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d42 registry form (NOT registered until the window allows —
    REGISTRY.md): per-(source, bucket) doc counts, token counts, and
    within-source token shares — the CCNet mixing report. The heavy
    work is d38's skew-robust scoring plan; everything after it is
    a doc-count-sized join plus a (sources × 3)-row aggregate, so the
    share window runs on a frame that fits in one hand."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    b = perplexity_bucket(d).join(d.select("doc_id", "source"), "doc_id")
    agg = b.groupBy("source", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    share = F.round(
        F.col("n_tokens").cast("double")
        / F.sum("n_tokens").over(W.partitionBy("source")),
        6,
    )
    return agg.select(
        "source", "bucket", "n_docs", "n_tokens", share.alias("token_share")
    ).orderBy("source", "bucket")


D42_ORACLE_DRAFT = f"""
WITH scored AS ({D38_ORACLE_DRAFT}),
b AS (
  SELECT s.doc_id, s.n_tokens, d.source,
         CASE WHEN s.ppl < {PPL_T1!r} THEN 'head'
              WHEN s.ppl < {PPL_T2!r} THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored s JOIN documents d USING (doc_id)
), agg AS (
  SELECT source, bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM b GROUP BY source, bucket
)
SELECT source, bucket, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE)
             / sum(n_tokens) OVER (PARTITION BY source), 6) AS token_share
FROM agg ORDER BY source, bucket
"""


QUERIES = {
    "d01_token_stats": d01_token_stats,
    "d02_lang_id": d02_lang_id,
    "d03_quality_score": d03_quality_score,
    "d04_fingerprint": d04_fingerprint,
    "d05_exact_dedup": d05_exact_dedup,
    "d06_canonical_dedup": d06_canonical_dedup,
    "d07_minhash_lsh": d07_minhash_lsh,
    "d08_simhash": d08_simhash,
    "d09_ngram_jaccard": d09_ngram_jaccard,
    "d09b_jaccard_allpairs": d09b_jaccard_allpairs,
    "d09r_jaccard_recall": d09r_jaccard_recall,
    "d11_bpe_tokens": d11_bpe_tokens,
    "d12_dup_clusters": d12_dup_clusters,
    "d13_stratified_sample": d13_stratified_sample,
    "d14_normalize_text": d14_normalize_text,
    "d15_contamination": d15_contamination,
    "d16_repetition_stats": d16_repetition_stats,
    "d17_doc_chunking": d17_doc_chunking,
    "d18_sequence_packing": d18_sequence_packing,
    "d19_source_mixture": d19_source_mixture,
    "d20_cluster_keep_best": d20_cluster_keep_best,
    "d21_tfidf_topterms": d21_tfidf_topterms,
    "d22_bigram_counts": d22_bigram_counts,
    "d23_ngram_contamination": d23_ngram_contamination,
    "d24_quality_filter": d24_quality_filter,
    "d25_token_budget_sample": d25_token_budget_sample,
    "d26_source_regression": d26_source_regression,
    "d27_unigram_logprob": d27_unigram_logprob,
    "d28_incremental_dedup": d28_incremental_dedup,
    "d29_entropy_profile": d29_entropy_profile,
    "d30_pipeline_funnel": d30_pipeline_funnel,
    "d31_weighted_sample": d31_weighted_sample,
    "d32_simhash_pairs": d32_simhash_pairs,
    "d33_neardup_incremental": d33_neardup_incremental,
    "d34_bpe_merges": d34_bpe_merges,
    "d35_bpe_encode": d35_bpe_encode,
    "d36_redact_pii": d36_redact_pii,
    "d37_tokenizer_fertility": d37_tokenizer_fertility,
    "d38_bigram_logprob": d38_bigram_logprob,
    "d40_dup_spans": d40_dup_spans,
    "d41_quality_classifier": d41_quality_classifier,
    "d42_perplexity_bucket": d42_perplexity_bucket,
}

# Registered r12 (REGISTRY.md queue — the scheduled pair): both draft
# oracles become the certified oracles unchanged. d40 proven since r9
# by tests/test_pipeline_ops.py (hand-built span fixtures covering
# maximality/diagonals/orientation + full-corpus DuckDB replay at
# sf0.001 and sf0.01); d41 likewise (hand-scored docs per gram branch
# + full-corpus replay at both SFs).
ORACLE["d40_dup_spans"] = D40_ORACLE_DRAFT
ORACLE["d41_quality_classifier"] = D41_ORACLE_DRAFT

# Registered r13 (REGISTRY.md queue): the CCNet mixing report over
# d38's bigram-LM perplexity at the FIXED PPL_T1/PPL_T2 cutoffs —
# draft proven since r9 (frame-exact DuckDB parity at sf0.001 and
# sf0.01 with all three buckets populated, strict-< boundary pin,
# suggest_ppl_thresholds contract, tests/test_pipeline_ops.py).
ORACLE["d42_perplexity_bucket"] = D42_ORACLE_DRAFT
