"""Streaming incremental deduplication — d28's batch pattern as a
stream, in two strengths:

`dedup_stream` is the stateless-store form: drop stream rows whose
key already exists in a FIXED store frame (stream-static left-anti
join), then first-wins within the stream via keyed state. The store
side is resolved once at query start (Spark caches the static file
listing), so growth of the store during the stream's lifetime is
invisible — the honest contract for a store that is rebuilt between
stream incarnations.

`dedup_store_sink` is the self-maintaining form — THE production
ingestion shape at 100 TB: every micro-batch (1) first-wins-dedupes
within itself, (2) anti-joins against the CURRENT store snapshot
(re-read per batch through the manifest layer, so each batch sees
every previously committed batch and any external append), and
(3) appends only the novel rows back to the store — which IS the
output table. Exactly-once rides the shared epoch guard
(sources/snapshots.epoch_meta): a replayed epoch is detected BEFORE
the anti-join, so a crash between append-commit and checkpoint-commit
cannot double-append (the replay is skipped) and cannot drop rows
(the append already committed).

Scale: the per-batch anti-join keys on the dedup hash; the store
side at 100 TB is a hash-bucketed snapshot table (shuffle-free on
its side), the batch side is micro-batch-sized. Nothing here holds
unbounded executor state — the "state" is the store table itself,
which is exactly what survives restarts, compactions and vacuums.
Per-batch read PLANNING of the store stays flat because appends land
in collapsible data/<uuid> batch dirs (snapshots._scan_paths) and
every 32nd commit materializes the manifest chain; a periodic
sources/tools.optimize_segments + vacuum keeps the small-file count
itself bounded on a long-lived store.

Reference: the realtime ingest state machine this extends is
streaming/ingest.py (RTSMerge parity); the reference engine has no
streaming dedup (dedup there is an offline tool concern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def dedup_stream(
    stream: DataFrame,
    store: DataFrame,
    key_cols: list[str],
    within_watermark: bool = False,
) -> DataFrame:
    """Anti-join a stream against a fixed store frame, then keyed
    first-wins within the stream. `store` must be a static DataFrame
    (its snapshot is fixed at query start).

    State contract (the part that bites at 100 TB): plain
    `dropDuplicates(keys)` keeps one state entry per distinct key
    FOREVER — an upstream watermark does NOT evict that state unless
    the event-time column is itself part of the keys. For exact
    all-time dedup that unbounded state is the price (or use
    dedup_store_sink, whose "state" is the store table). When dups
    can only arrive within the watermark delay, pass
    `within_watermark=True` (requires `stream` to carry a watermark):
    `dropDuplicatesWithinWatermark` then evicts each key's state once
    the watermark passes it, bounding state by the delay window."""
    out = stream.join(store.select(*key_cols), key_cols, "left_anti")
    if within_watermark:
        return out.dropDuplicatesWithinWatermark(key_cols)
    return out.dropDuplicates(key_cols)


def dedup_store_sink(
    snapshot_dir: str, key_cols: list[str], app_id: str | None = None
):
    """foreachBatch sink for a self-maintaining dedup store: novel
    rows (by `key_cols`) append to the snapshot table at
    `snapshot_dir`; duplicate rows — vs the store OR earlier in the
    same batch — are dropped. Exactly-once via the shared epoch guard
    (sources/snapshots.epoch_meta, which also documents how `app_id`
    scopes the counter so a fresh checkpoint cannot silently suppress
    epochs)."""
    from indexr_spark.sources.snapshots import (
        append_snapshot,
        epoch_meta,
        latest_version,
        read_snapshot,
    )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        meta = epoch_meta(snapshot_dir, epoch_id, app_id)
        if meta is None:
            return
        novel = batch.dropDuplicates(key_cols)
        if latest_version(snapshot_dir) > 0:
            # typed by the batch's key columns: no footer-inference job
            keys = T.StructType([batch.schema[k] for k in key_cols])
            store = read_snapshot(batch.sparkSession, snapshot_dir, schema=keys)
            novel = novel.join(store, key_cols, "left_anti")
        append_snapshot(novel, snapshot_dir, meta=meta)

    return sink


def neardup_store_sink(
    sig_store_dir: str,
    bands: int | None = None,
    est_threshold: float = 0.9,
    app_id: str | None = None,
    max_bucket: int | None = None,
):
    """dedup_store_sink's NEAR-dup sibling: the store holds per-doc
    MinHash band signatures (operators/text.doc_band_sigs schema),
    and each micro-batch drops docs whose estimated Jaccard against
    any stored doc reaches `est_threshold` (text.neardup_against_store
    — band-bucket candidates, agreeing-seed estimate, the max_bucket
    skew valve). Novel docs' signatures append back, so the store IS
    the accumulated near-dup index. Within a batch, docs with
    IDENTICAL minhash arrays first-wins-collapse (near- but not
    identical dups inside ONE micro-batch both land — each is novel
    vs the store at its arrival instant; callers needing intra-batch
    near-dup run the d07 self-join upstream).

    Batches need (doc_id, text). Exactly-once: the shared epoch guard
    (sources/snapshots.epoch_meta), checked before any join. At 100 TB the
    signature store is ~K longs + band strings per doc — orders of
    magnitude under the corpus — and a snapshot table bucketed on
    (band, sig) keeps the candidate join store-side shuffle-free."""
    from pyspark.sql import functions as F

    from indexr_spark.operators.text import (
        JACCARD_BANDS,
        doc_band_sigs,
        neardup_against_store,
    )
    from indexr_spark.sources.snapshots import (
        append_snapshot,
        epoch_meta,
        latest_version,
        max_committed_meta,
        read_snapshot,
    )

    # ONE source of truth for the default banding (doc_band_sigs'),
    # so a future retune cannot diverge the sink from the builder
    if bands is None:
        bands = JACCARD_BANDS

    def sink(batch: DataFrame, epoch_id: int) -> None:
        meta = epoch_meta(sig_store_dir, epoch_id, app_id)
        if meta is None:
            return
        # banding mismatch guard: a store and batch built at different
        # bandings produce (band, sig) keys that essentially never
        # collide, so every near-dup would silently pass as novel —
        # the banding rides the manifest meta and a mismatched reopen
        # refuses loudly instead
        stored_bands = max_committed_meta(sig_store_dir, "sig_bands")
        if stored_bands is not None and int(stored_bands) != bands:
            raise ValueError(
                f"neardup_store_sink: store {sig_store_dir} was built "
                f"with bands={int(stored_bands)}, reopened with "
                f"bands={bands} — mismatched bandings silently find "
                "nothing; rebuild the store or match its banding"
            )
        sigs = doc_band_sigs(batch.select("doc_id", "text"), bands=bands)
        # within-batch exact collapse: identical minhash arrays ⇒
        # identical token sets (same construction) ⇒ one survivor
        # (min() over the per-band duplicate rows needs no pre-distinct)
        winners = (
            sigs.groupBy("mhs")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        sigs = sigs.join(winners, "doc_id", "left_semi")
        if latest_version(sig_store_dir) > 0:
            store = read_snapshot(batch.sparkSession, sig_store_dir)
            dups = (
                neardup_against_store(
                    sigs, store, est_threshold=est_threshold, max_bucket=max_bucket
                )
                .select("doc_id")
                .distinct()
            )
            sigs = sigs.join(dups, "doc_id", "left_anti")
        append_snapshot(sigs, sig_store_dir, meta={**meta, "sig_bands": bands})

    return sink
