"""The d30 cleaning funnel as a STREAMING ingestion pipeline — the
end-to-end training-data story in one exactly-once job: documents
arrive as a stream, each micro-batch runs quality gate → within-batch
canonical dedup → cross-source decontamination (against an
incrementally-maintained census of every (canonical hash, source)
pair ever seen) → anti-join against the accumulated cleaned corpus,
and the survivors append to a snapshot table whose manifest meta
carries the per-epoch funnel counters. The output table IS the
pipeline state (d28/dedup_store_sink's posture): restarts, vacuums
and compactions cannot lose or double-count anything the manifests
don't.

ALL FOUR of batch d30's stages run per batch. Decontamination is
inherently prefix-based on a stream — a hash is dropped the moment
the census has seen it under more than one source, but a doc admitted
BEFORE its hash turned multi-source is already in the table. That
retroactive half is `decontaminate_table`, a maintenance job (run it
like compaction): a sidecar-scoped copy-on-write delete of every
stored row whose hash the census now shows as cross-source. Sink +
periodic decontaminate_table together converge to exactly batch
d30's n_final semantics over the whole ingested corpus; on a
single-batch stream the sink alone already matches it (pinned by
test_cleaning_pipeline_matches_batch_funnel_semantics).

Observability is structural, not logged: every epoch's counters
(n_total / n_quality / n_dedup / n_decontam / n_final) ride the
commit itself, so `pipeline_history` reconstructs the funnel over
time from the table alone — a silently over-aggressive gate shows up
in the history, not in a mysteriously small corpus.

Scale: one canonical-hash shuffle per batch (d30's fused topology);
the census join and the store anti-join key on the SAME hash — the
census side is (hash, source-set) aggregated, the store side is one
hash column, both bucketed on the hash at 100 TB → shuffle-free on
the big side. Counters come from the same single classification pass
(one aggregation, one driver row). Output batches append sorted by
the hash so the stats sidecar gives decontaminate_table narrow
per-file key ranges to scope its rewrite by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indexr_spark.functions.text import distinct_tokens, tokens
from indexr_spark.operators.text import (
    FUNNEL_MAX_TOKENS,
    FUNNEL_MIN_TOKENS,
    FUNNEL_MIN_TTR,
    _canon_key,
)

CANON_COL = "_canon_h"  # persisted with each doc: the store-side join key


def census_dir_for(table_dir: str) -> str:
    """The census table's default location: a SIBLING of the output
    table (never nested inside it — the output table's managed
    data/<12-hex> namespace must hold only its own segments)."""
    return table_dir.rstrip("/") + "_census"


def cleaning_pipeline_sink(
    table_dir: str,
    app_id: str | None = None,
    min_tokens: int = FUNNEL_MIN_TOKENS,
    max_tokens: int = FUNNEL_MAX_TOKENS,
    min_ttr: float = FUNNEL_MIN_TTR,
    census_dir: str | None = None,
):
    """foreachBatch sink: batches need (doc_id, text, source) plus any
    passthrough columns; survivors land with their canonical hash as
    `_canon_h` so later batches anti-join the store WITHOUT
    re-tokenizing the accumulated corpus (the hash is computed once,
    at ingest). The census table (default: `census_dir_for(table_dir)`)
    accumulates every (hash, source) pair — including quality-failed
    and dup docs, matching batch d30, where a low-quality copy under
    another source still contaminates the hash. Exactly-once via the
    shared epoch guard on EACH table (sources/snapshots.epoch_meta,
    which owns the app_id contract): a crash between the census commit
    and the output commit replays the epoch, the census guard skips,
    the output commit proceeds — and the census read including the
    replayed batch's own pairs changes nothing, because the census is
    consumed as a per-hash source SET."""
    from indexr_spark.sources.snapshots import (
        append_snapshot,
        epoch_meta,
        latest_version,
        read_snapshot,
    )

    cdir = census_dir if census_dir is not None else census_dir_for(table_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        meta = epoch_meta(table_dir, epoch_id, app_id)
        if meta is None:
            return
        if "source" not in batch.columns:
            raise ValueError(
                "cleaning_pipeline_sink: batches need a `source` column — "
                "cross-source decontamination is one of the funnel's four "
                "stages and cannot run without it"
            )
        from pyspark.sql import Window as W

        # the classification pass owns these names — a passthrough
        # column colliding with one would be silently overwritten and
        # then dropped from the output (refuse loudly instead)
        reserved = {
            "_n_toks",
            "_quality",
            "_dedup",
            "_srcs",
            "_store_srcs",
            "_decontam",
            "_in_store",
            "_final",
            CANON_COL,
        }
        clash = reserved & set(batch.columns)
        if clash:
            raise ValueError(
                f"cleaning_pipeline_sink: batch columns {sorted(clash)} "
                "collide with the sink's reserved internal names — "
                "rename them upstream"
            )
        toks = tokens("text")
        dts = distinct_tokens("text")
        base = batch.withColumn("_n_toks", F.size(toks)).withColumn(
            CANON_COL, _canon_key(dts)
        )
        quality = (
            F.col("_n_toks").between(min_tokens, max_tokens)
            & (F.size(dts).cast("double") / F.col("_n_toks") >= F.lit(min_ttr))
        )
        base = base.withColumn("_quality", quality)
        w = W.partitionBy(CANON_COL)
        first_q = F.min(F.when(F.col("_quality"), F.col("doc_id"))).over(w)
        base = base.withColumn(
            "_dedup", F.col("_quality") & (F.col("doc_id") == first_q)
        )
        # cross-source decontamination: the hash's source set is the
        # union of this batch's sources (window over the same hash
        # partitioning the dedup already paid for) and every source
        # the census has recorded for it
        base = base.withColumn("_srcs", F.collect_set("source").over(w))
        if latest_version(cdir) > 0:
            census = (
                read_snapshot(batch.sparkSession, cdir)
                .groupBy(CANON_COL)
                .agg(F.collect_set("source").alias("_store_srcs"))
            )
            base = base.join(census, CANON_COL, "left")
        else:
            base = base.withColumn(
                "_store_srcs", F.lit(None).cast("array<string>")
            )
        n_src = F.size(
            F.array_distinct(
                F.concat(
                    F.col("_srcs"),
                    F.coalesce(
                        F.col("_store_srcs"), F.array().cast("array<string>")
                    ),
                )
            )
        )
        base = base.withColumn("_decontam", F.col("_dedup") & (n_src == 1))
        if latest_version(table_dir) > 0:
            store = read_snapshot(batch.sparkSession, table_dir).select(
                F.col(CANON_COL), F.lit(True).alias("_in_store")
            ).distinct()
            base = base.join(store, CANON_COL, "left")
        else:
            base = base.withColumn("_in_store", F.lit(None).cast("boolean"))
        base = base.withColumn(
            "_final", F.col("_decontam") & F.col("_in_store").isNull()
        )
        # one classification pass feeds the census append, the
        # counters AND the output rows; localCheckpoint so the three
        # consumers don't recompute the joins
        base = base.localCheckpoint()
        # census first: if the output commit below never happens, the
        # epoch replays and the census guard makes this idempotent
        census_meta = epoch_meta(cdir, epoch_id, app_id)
        if census_meta is not None:
            append_snapshot(
                base.select(CANON_COL, "source").distinct(),
                cdir,
                sort_by=[CANON_COL],
                meta=census_meta,
            )
        c = base.agg(
            F.count("*").alias("n_total"),
            F.sum(F.col("_quality").cast("int")).alias("n_quality"),
            F.sum(F.col("_dedup").cast("int")).alias("n_dedup"),
            F.sum(F.col("_decontam").cast("int")).alias("n_decontam"),
            F.sum(F.col("_final").cast("int")).alias("n_final"),
        ).collect()[0]
        out = base.filter(F.col("_final")).drop(
            "_n_toks",
            "_quality",
            "_dedup",
            "_srcs",
            "_store_srcs",
            "_decontam",
            "_in_store",
            "_final",
        )
        append_snapshot(
            out,
            table_dir,
            sort_by=[CANON_COL],
            meta={
                **meta,
                "funnel_total": int(c["n_total"]),
                "funnel_quality": int(c["n_quality"] or 0),
                "funnel_dedup": int(c["n_dedup"] or 0),
                "funnel_decontam": int(c["n_decontam"] or 0),
                "funnel_final": int(c["n_final"] or 0),
            },
        )

    return sink


def decontaminate_table(
    spark: SparkSession, table_dir: str, census_dir: str | None = None
) -> int:
    """The retroactive half of cross-source decontamination, run like
    compaction: delete every stored row whose canonical hash the
    census now shows under more than one source (the sink already
    refuses such hashes at ingest, but a hash that turned multi-source
    AFTER its doc was admitted is only this job's to fix). Returns
    the new table version (unchanged when nothing is contaminated —
    delete_matching commits no empty version).

    Scale: the contaminated-hash set is census-sized-per-multi-hash
    (tiny next to the corpus); the delete is sidecar-scoped, and the
    sink's hash-sorted appends give it narrow per-file ranges to
    prune by. The survivor rewrite passes the SAME sort_by, so the
    files this job writes keep the hash clustering — without it one
    retroactive pass would leave wide-range survivor files and every
    later pass would degrade toward a full rewrite."""
    from indexr_spark.sources.snapshots import delete_matching, latest_version

    cdir = census_dir if census_dir is not None else census_dir_for(table_dir)
    if latest_version(cdir) == 0 or latest_version(table_dir) == 0:
        return latest_version(table_dir)
    from indexr_spark.sources.snapshots import read_snapshot

    multi = (
        read_snapshot(spark, cdir)
        .groupBy(CANON_COL)
        .agg(F.count_distinct("source").alias("_n_src"))
        .filter(F.col("_n_src") > 1)
        .select(CANON_COL)
    )
    return delete_matching(
        spark, table_dir, multi, [CANON_COL], sort_by=[CANON_COL]
    )


def compact_census(spark: SparkSession, census_dir: str) -> int:
    """Periodic maintenance for the census table: rewrite it as its
    DISTINCT (canonical hash, source) pairs. The sink's per-batch
    `.distinct()` is per-batch only, so a source re-sending the same
    document every batch grows the census with rows that add no
    information — harmless for correctness (the census is consumed as
    a per-hash source SET) but unbounded in size, and every batch's
    `collect_set` re-aggregates the duplicates. Run like compaction;
    after it the census row count equals its distinct pair count.

    Preserves both contracts the census carries: decontamination
    decisions (a set is unchanged by deduplication — pinned by
    tests/test_streaming_pipeline.py) and the exactly-once epoch
    guard (`max_committed_meta` scans ALL live manifests plus the
    vacuum watermark, and vacuum folds retiring manifests' meta into
    the watermark before deleting, so the epoch evidence survives
    this commit and any later vacuum). Concurrency-safe the
    copy-on-write way: the rewrite derives from the base version, so
    an interleaved sink append raises ConcurrentSnapshotConflict
    instead of being silently replaced — rerun after the stream
    quiesces or between batches."""
    from indexr_spark.sources.snapshots import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    base = latest_version(census_dir)
    if base == 0:
        return 0
    pairs = read_snapshot(spark, census_dir).distinct()
    return write_snapshot(
        pairs, census_dir, sort_by=[CANON_COL], expect_parent=base
    )


def pipeline_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """Per-version funnel counters reconstructed from the manifests —
    (version, n_total, n_quality, n_dedup, n_decontam, n_final).
    Versions without counters (non-pipeline commits: compactions,
    manual appends, decontaminate_table rewrites) show NULLs; vacuumed
    versions age out of the audit window with their manifests, exactly
    like time travel."""
    from indexr_spark.sources.snapshots import _load_manifest, _manifest_versions

    rows = []
    for v in _manifest_versions(table_dir):
        m = _load_manifest(table_dir, v)
        rows.append(
            (
                v,
                m.get("funnel_total"),
                m.get("funnel_quality"),
                m.get("funnel_dedup"),
                m.get("funnel_decontam"),
                m.get("funnel_final"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, n_total int, n_quality int, n_dedup int, "
        "n_decontam int, n_final int",
    )
