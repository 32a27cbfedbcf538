"""Multimodal column plumbing — binary payloads + Pandas-UDF decode.

Treats media as opaque `binary` columns with typed metadata, exactly
as a 100 TB multimodal pipeline would: the Spark-side plumbing
(schema, Arrow batching, mapInPandas signatures, partitioning) is
real; the *codec* step is a deterministic fake because no image/audio
libraries ship in this environment. Swap `_fake_decode` for PIL/ffmpeg
and nothing else changes.

The payload here is the document text encoded as UTF-8 bytes, so the
"decode" results (byte length, md5 checksum, derived fake dimensions)
are still exactly oracle-checkable in DuckDB — the rare case where a
Python-boundary operator gets a full value-hash correctness gate.

Real decode entry point: `decode_image` raises NotImplementedError —
clearly marked stub per the build contract.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indexr_spark.tables import load_table

ORACLE: dict[str, str] = {}

DECODE_SCHEMA = (
    "doc_id long, n_bytes int, checksum string, fake_width int, fake_height int"
)


def decode_image(payload: bytes) -> "object":
    """Real image decode — requires PIL/libjpeg, absent here."""
    raise NotImplementedError(
        "image decoding requires an image library not present in this "
        "environment; _fake_decode supplies the deterministic stand-in"
    )


def _fake_decode(payload: bytes) -> tuple[int, str, int, int]:
    """Deterministic stand-in for a codec: metadata from the bytes.

    fake_width/height are derived from the md5 prefix, mirroring the
    'parse the header' step of a real decoder.
    """
    md5 = hashlib.md5(payload).hexdigest()
    h = int(md5[:8], 16)
    return len(payload), md5, h % 640 + 16, (h >> 8) % 480 + 16


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Attach the opaque binary column (text → UTF-8 bytes here; in a
    real pipeline this is the raw media column read from Parquet)."""
    return df.withColumn("payload", F.col("text").cast("binary"))


def _make_decode_batches():
    """Build the mapInPandas worker as a self-contained closure.

    Deliberately a nested function with its own imports: cloudpickle
    serializes local functions *by value*, so Python workers never
    need `indexr_spark` on their import path (the driver process may
    have it only via a runtime sys.path entry, which executors don't
    inherit).
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Batch-shaped on purpose — a real decoder amortizes codec
        # setup across the batch; rows never round-trip one at a time.
        import hashlib as _hashlib

        import pandas as _pd

        def fake_decode(payload: bytes) -> tuple[int, str, int, int]:
            md5 = _hashlib.md5(payload).hexdigest()
            h = int(md5[:8], 16)
            return len(payload), md5, h % 640 + 16, (h >> 8) % 480 + 16

        for pdf in batches:
            decoded = [fake_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": [d[0] for d in decoded],
                    "checksum": [d[1] for d in decoded],
                    "fake_width": [d[2] for d in decoded],
                    "fake_height": [d[3] for d in decoded],
                }
            )

    return decode_batches


def mm01_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary 'decode' via mapInPandas (Arrow-vectorized Python path).

    The preference order for custom operators (SURVEY.md build rules)
    puts Pandas-UDF batch transforms second after built-ins; decode is
    the canonical operator that genuinely needs the Python boundary.
    """
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    # Decode is CPU-bound; fan the rows across Python workers instead
    # of inheriting the byte-based scan split (often 1 for small files).
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    out = d.select("doc_id", "payload").mapInPandas(_make_decode_batches(), DECODE_SCHEMA)
    return out.orderBy("doc_id")


ORACLE["mm01_decode_metadata"] = """
SELECT doc_id,
       CAST(strlen(text) AS INTEGER) AS n_bytes,
       md5(text)                     AS checksum,
       CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 640 + 16 AS INTEGER) AS fake_width,
       CAST((('0x' || substr(md5(text), 1, 8))::BIGINT >> 8) % 480 + 16 AS INTEGER) AS fake_height
FROM documents
ORDER BY doc_id
"""


def mm02_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for 'video' payloads: one output row
    per sampled frame (every 100 bytes → one frame), done with a pure
    Catalyst explode — the decode of each frame would then be a
    mapInPandas over this exploded, repartitioned frame table."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    n_frames = F.floor(F.length("payload") / 100).cast("int")
    return (
        d.select("doc_id", n_frames.alias("n_frames"))
        .filter(F.col("n_frames") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
        )
        .orderBy("doc_id", "frame_idx")
    )


ORACLE["mm02_frame_sample"] = """
SELECT doc_id, CAST(unnest(range(0, CAST(floor(strlen(text) / 100) AS BIGINT))) AS INTEGER) AS frame_idx
FROM documents
WHERE floor(strlen(text) / 100) > 0
ORDER BY doc_id, frame_idx
"""


RESIZE_SCHEMA = "doc_id long, orig_bytes int, resized_bytes int, resized_md5 string"
RESIZE_STRIDE = 4


def _make_resize_batches():
    """binary→binary transform worker (self-contained closure, same
    cloudpickle-by-value rationale as the decoder)."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            out_rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                resized = bytes(payload)[::4]  # stride-4 "downsample"
                out_rows.append(
                    (
                        doc_id,
                        len(payload),
                        len(resized),
                        _hashlib.md5(resized).hexdigest(),
                    )
                )
            yield _pd.DataFrame(
                out_rows,
                columns=["doc_id", "orig_bytes", "resized_bytes", "resized_md5"],
            )

    return resize_batches


def mm03_resize_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode→transform→re-encode plumbing of an image-resize
    stage: binary in, binary out, per-batch in Arrow. The 'resize' is
    a deterministic stride-4 byte downsample standing in for the
    codec (swap in PIL's thumbnail and the Spark-side shape — schema,
    batching, partitioning — is unchanged); the output checksum keeps
    even this Python-boundary op value-hash-checkable in DuckDB."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    out = d.select("doc_id", "payload").mapInPandas(_make_resize_batches(), RESIZE_SCHEMA)
    return out.orderBy("doc_id")


ORACLE["mm03_resize_payload"] = f"""
WITH r AS (
  SELECT doc_id, text,
         array_to_string(
           list_transform(range(1, length(text) + 1, {RESIZE_STRIDE}),
                          i -> substr(text, CAST(i AS INTEGER), 1)), '') AS resized
  FROM documents
)
SELECT doc_id,
       CAST(strlen(text) AS INTEGER)    AS orig_bytes,
       CAST(strlen(resized) AS INTEGER) AS resized_bytes,
       md5(resized)                     AS resized_md5
FROM r
ORDER BY doc_id
"""


FEATURE_SCHEMA = "doc_id long, " + ", ".join(f"f{b} int" for b in range(8))


def _make_feature_batches():
    """Feature-extraction worker (self-contained closure): an 8-bin
    byte histogram per payload — the stand-in for an embedding/feature
    model forward pass (swap in the real model; batch shape, schema,
    and partitioning are unchanged)."""

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                bins = [0] * 8
                for byte in bytes(payload):
                    bins[byte % 8] += 1
                rows.append((doc_id, *bins))
            yield _pd.DataFrame(rows, columns=["doc_id"] + [f"f{b}" for b in range(8)])

    return feature_batches


def mm04_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch feature extraction over binary payloads — the third leg
    of the multimodal pipeline (decode mm01 / transform mm03 / extract
    features here). At scale this stage is GPU- or model-bound, so the
    Arrow batch is the amortization unit; the byte-histogram fake
    keeps it deterministic and value-hash-checkable."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    out = d.select("doc_id", "payload").mapInPandas(_make_feature_batches(), FEATURE_SCHEMA)
    return out.orderBy("doc_id")


ORACLE["mm04_feature_extract"] = "SELECT doc_id, " + ", ".join(
    f"CAST(len(list_filter(string_split(text, ''), c -> ord(c) % 8 = {b})) AS INTEGER) AS f{b}"
    for b in range(8)
) + " FROM documents ORDER BY doc_id"


AUDIO_WIN = 64   # bytes per frame  (an STFT-style analysis window)
AUDIO_HOP = 32   # stride between frame starts (50% overlap)


def mm05_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style framing over binary payloads: fixed-size windows at
    a fixed hop (win=64, hop=32 → 50% overlap), one row per full
    frame with its offset and content checksum — the framing stage
    every audio featurizer (STFT/fbank) runs before its transform.
    Pure Catalyst (sequence→explode→substring over the binary column):
    the frame table is built with zero Python; the per-frame transform
    would then be a mapInPandas like mm04. Payload bytes are ASCII
    here, so DuckDB's char-based substr sees identical content."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    n_frames = (
        F.when(
            F.length("payload") >= AUDIO_WIN,
            F.floor((F.length("payload") - AUDIO_WIN) / AUDIO_HOP) + 1,
        )
        .otherwise(0)
        .cast("int")
    )
    return (
        d.select("doc_id", "payload", n_frames.alias("n_frames"))
        .filter(F.col("n_frames") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
            "payload",
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * AUDIO_HOP).cast("int").alias("offset"),
            F.md5(
                F.expr(f"substring(payload, frame_idx * {AUDIO_HOP} + 1, {AUDIO_WIN})")
            ).alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_idx")
    )


ORACLE["mm05_audio_frames"] = f"""
WITH n AS (
  SELECT doc_id, text,
         CASE WHEN strlen(text) >= {AUDIO_WIN}
              THEN CAST(floor((strlen(text) - {AUDIO_WIN}) / {AUDIO_HOP}) AS BIGINT) + 1
              ELSE 0 END AS n_frames
  FROM documents
), frames AS (
  SELECT doc_id, text, CAST(unnest(range(0, n_frames)) AS INTEGER) AS frame_idx
  FROM n WHERE n_frames > 0
)
SELECT doc_id, frame_idx,
       CAST(frame_idx * {AUDIO_HOP} AS INTEGER) AS offset,
       md5(substr(text, frame_idx * {AUDIO_HOP} + 1, {AUDIO_WIN})) AS frame_md5
FROM frames
ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# mm06 draft (register when the window allows — REGISTRY.md):
# perceptual-hash near-duplicate detection over binary payloads — the
# image-dedup stage every multimodal corpus pipeline runs (pHash/aHash
# over decoded pixels, then a Hamming join). The hash itself must come
# out of the DECODE pass (a real pHash is a DCT over pixels — never a
# Catalyst expression), so `payload_phash` computes it inside the same
# Arrow mapInPandas boundary as mm01's codec: here the deterministic
# stand-in is a simhash over the decoded payload's distinct char
# 4-grams — genuinely locality-sensitive (near-identical payloads →
# Hamming-near hashes), which is the property the downstream join
# exists to exploit, and exactly replayable in SQL. Everything after
# the hash is d32's machinery UNCHANGED: simhash_pairs' pigeonhole
# banding + chunked bucket join + in-row popcount verify — the
# multimodal dedup at 100 TB is "one decode pass adds a 32-bit hash
# in a long column; the join never touches the payload again."

MM06_MAX_HAMMING = 3
MM06_GRAM = 4


def payload_phash(df: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, payload) → (doc_id, simhash): the perceptual-hash
    stand-in, computed where a real one must live — inside the Arrow
    decode pass (self-contained closure, the mm01 lesson). Per-gram
    md5 in a Python loop is the honest cost model for a codec-side
    transform (a real pHash is C-speed per image; the Spark-side
    economics — one narrow long column out, payload never re-read —
    are identical). Payloads shorter than MM06_GRAM chars yield no
    grams and are dropped, mirroring a codec rejecting a truncated
    file.

    `bits` (default 32, the MM06 oracle's width) widens the hash for
    the ≥10^5-payload regime, where 32-bit band values saturate the
    downstream banded join (measured in COVERAGE.md "simhash100x") —
    pass the same `bits` to text.simhash_pairs. Multiple of 4, ≤ 60
    (the md5-prefix long bound)."""
    if not (4 <= bits <= 60 and bits % 4 == 0):
        raise ValueError(f"bits={bits} must be a multiple of 4 in [4, 60]")
    out_schema = "doc_id long, simhash long"

    # captured by value into the closure so the Spark side can never
    # silently desync from the MM06_GRAM the DuckDB oracle is built
    # with (the r9 ADVICE finding: the width was hardcoded here)
    gram = MM06_GRAM
    nbits = bits
    nhex = bits // 4

    def make_phash_batches():
        def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import hashlib as _hashlib

            import pandas as _pd

            def phash(payload: bytes) -> "int | None":
                s = bytes(payload).decode("utf-8")
                grams = {s[i : i + gram] for i in range(len(s) - gram + 1)}
                if not grams:
                    return None
                counts = [0] * nbits
                for g in grams:
                    hv = int(_hashlib.md5(g.encode()).hexdigest()[:nhex], 16)
                    for j in range(nbits):
                        counts[j] += 1 if (hv >> j) & 1 else -1
                return sum(1 << j for j in range(nbits) if counts[j] >= 0)

            for pdf in batches:
                out = _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "simhash": [phash(p) for p in pdf["payload"]],
                    }
                )
                yield out[out["simhash"].notna()]

        return phash_batches

    return df.select("doc_id", "payload").mapInPandas(
        make_phash_batches(), out_schema
    )


def mm06_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mm06 registry form (NOT registered until the window allows):
    all payload pairs within Hamming distance MM06_MAX_HAMMING of each
    other's perceptual hash — (a_id, b_id, hamming)."""
    from indexr_spark.operators.text import simhash_pairs

    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    ph = payload_phash(d)
    return simhash_pairs(
        ph, max_hamming=MM06_MAX_HAMMING, bands=MM06_MAX_HAMMING + 1
    ).orderBy("a_id", "b_id")


# Brute-force all-pairs replay (the d32 oracle pattern): DuckDB
# re-derives the same char-4-gram simhash from the text (payload bytes
# are the text's UTF-8; both sides shingle the DECODED string, so the
# replay is unicode-safe) and scans every pair.
MM06_ORACLE_DRAFT = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(text) - {MM06_GRAM - 1}),
           i -> substr(text, i, {MM06_GRAM})))) AS gram
  FROM documents WHERE len(text) >= {MM06_GRAM}
), h AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h FROM g
), bits AS (
  SELECT doc_id, unnest(range(0, 32)) AS bit, h FROM h
), contrib AS (
  SELECT doc_id, bit,
         CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS contrib
  FROM bits
), sums AS (
  SELECT doc_id, bit, sum(contrib) AS s FROM contrib GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM sums GROUP BY doc_id
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id
 AND bit_count(xor(a.simhash, b.simhash)) <= {MM06_MAX_HAMMING}
ORDER BY a_id, b_id
"""


QUERIES = {
    "mm01_decode_metadata": mm01_decode_metadata,
    "mm02_frame_sample": mm02_frame_sample,
    "mm03_resize_payload": mm03_resize_payload,
    "mm04_feature_extract": mm04_feature_extract,
    "mm05_audio_frames": mm05_audio_frames,
}
