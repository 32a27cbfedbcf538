"""Realtime ingest pipeline — the reference's rt/ subsystem, Spark-first.

Reference flow (SURVEY.md §3.3): Kafka JSON event → UTF8JsonRowCreator
(alias / tag-filter / default handling, UTF8Row.java:69-100) → insert
into a sorted in-memory map with rollup merge (RealtimeSegment.java:59)
→ periodic dump to a segment → upload → Rt2His moves it under the
historical layout → HybridTable serves historical ∪ realtime.

Spark mapping:

    Kafka fetcher           readStream (kafka/json/csv file source)
    UTF8Row transforms      prepare_events(): alias, tag filter,
                            empty-event ignore, defaults, casts
    in-memory rollup        per-micro-batch groupBy(dims).agg(...)
                            (the reference also rolls up only within
                            a segment — cross-segment merge happens
                            at compaction; RTSMerge.java:30-86)
    save/upload period      trigger(processingTime=...) + foreachBatch
    segment state machine   idempotent epoch-keyed output dirs
                            (batch=<epoch>) — a retried epoch
                            overwrites its own directory, giving
                            exactly-once file output on top of the
                            checkpointed source offsets
    RTSMerge compaction     compact(): re-rollup rt across batches
                            (order-bound bookkeeping keeps first/last
                            deterministic), write dim-sorted segments
                            into the historical table, clear rt
    HybridTable             Catalog.read_hybrid (union view)

first/last across merges: each rt group carries _min_ord/_max_ord
(the order bounds of the rows it absorbed). Re-rollup picks the
first-value of the group with the smallest _min_ord via min_by —
associative, so any merge tree yields the same answer the reference
gets from arrival order (AggType.java:43-85).

Query semantics over a hybrid table: rows with equal dims may exist
once per segment (historical + each rt batch) until compaction folds
them — identical to the reference, where rollup is per-segment and
queries re-aggregate across segments.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from indexr_spark.sources.catalog import Catalog, TableSpec, apply_defaults
from indexr_spark.sources.segments import rollup_aggs, write_segments

MIN_ORD, MAX_ORD = "_min_ord", "_max_ord"


def prepare_events(df: DataFrame, spec: TableSpec) -> DataFrame:
    """UTF8Row.Creator parity: alias mapping → tag filter →
    empty-event ignore → defaults → project/cast to the table schema.

    Works identically on a batch or streaming DataFrame (pure narrow
    transformations — no shuffle; filters push into the source scan).
    Extra event fields (e.g. the order/sequence column) pass through.
    """
    rt = spec.realtime
    if rt is None:
        raise ValueError(f"table {spec.name} has no realtime spec")

    for event_field, column in rt.aliases.items():
        if event_field in df.columns:
            df = df.withColumnRenamed(event_field, column)

    if rt.tag_field and rt.accept_tags and rt.tag_field in df.columns:
        # TagSetting.java:7-22: keep events whose tag set intersects
        # accept.tags; tags arrive as a comma-separated field.
        tags = F.split(F.col(rt.tag_field), ",")
        accept = F.array(*[F.lit(t) for t in rt.accept_tags])
        df = df.filter(F.arrays_overlap(tags, accept))

    metric_cols = [m.name for m in rt.agg.metrics] if rt.agg else []
    if rt.ignore_empty and metric_cols:
        # EventIgnoreStrategy.IGNORE_EMPTY: drop events carrying no
        # metric values at all.
        non_null = [F.col(c).isNotNull().cast("int") for c in metric_cols]
        total = non_null[0]
        for c in non_null[1:]:
            total = total + c
        df = df.filter(total > 0)

    df = apply_defaults(df, spec)
    spec_names = {c.name for c in spec.columns}
    projected = [
        F.col(c.name).cast(c.spark_type()).alias(c.name)
        for c in spec.columns
        if c.name in df.columns
    ]
    extra = [F.col(c) for c in df.columns if c not in spec_names]
    return df.select(*projected, *extra)


def _rollup_batch(batch: DataFrame, spec: TableSpec, order_col: str | None) -> DataFrame:
    """Within-batch rollup (the realtime segment's in-memory merge),
    keeping order bounds so compaction can re-merge first/last."""
    agg = spec.realtime.agg if spec.realtime else None
    if agg is None or not agg.grouping:
        return batch
    exprs = rollup_aggs(agg.metrics, order_col)
    if order_col is not None:
        exprs.append(F.min(order_col).alias(MIN_ORD))
        exprs.append(F.max(order_col).alias(MAX_ORD))
    return batch.groupBy(*agg.dims).agg(*exprs)


def _check_rollup(spec: TableSpec, order_col: str | None) -> None:
    """Raise the rollup's named cause (first/last without order_col)
    when the stream is set up, not inside its first micro-batch."""
    agg = spec.realtime.agg if spec.realtime else None
    if agg is not None and agg.grouping:
        rollup_aggs(agg.metrics, order_col)


def snapshot_sink(
    spec: TableSpec,
    snapshot_dir: str,
    order_col: str | None = None,
    app_id: str | None = None,
):
    """foreachBatch sink that commits each micro-batch as a manifest
    APPEND on a snapshot table — the time-travelable alternative to
    the epoch-keyed directory sink. Exactly-once: the epoch id rides
    the manifest, and a retried epoch is a no-op instead of a
    double-append (`snapshots.epoch_meta`, the guard every snapshot
    sink shares, owns the contract and `app_id`'s scoping). Readers
    see each batch atomically (manifest pointer bump) and can pin or
    time-travel the rt table like any snapshot table."""
    from indexr_spark.sources.snapshots import append_snapshot, epoch_meta

    _check_rollup(spec, order_col)
    sort_cols = spec.realtime.agg.dims if (spec.realtime and spec.realtime.agg) else spec.sort_by

    def sink(batch: DataFrame, epoch_id: int) -> None:
        meta = epoch_meta(snapshot_dir, epoch_id, app_id)
        if meta is None:
            return  # retried epoch — already committed
        rolled = _rollup_batch(batch, spec, order_col)
        append_snapshot(rolled, snapshot_dir, sort_by=sort_cols or None, meta=meta)

    return sink


def start_ingest(
    spark: SparkSession,
    events: DataFrame,
    catalog: Catalog,
    table: str,
    order_col: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: float | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Attach the ingest pipeline to a streaming DataFrame of raw
    events and start writing rt segments.

    `events` is any readStream source (kafka value-parsed JSON, file
    source, rate…). Each micro-batch is rolled up, sorted on the dims
    and written to `rt/<table>/batch=<epoch>` — overwrite per epoch ⇒
    idempotent under retries (exactly-once on top of checkpointing).
    A first/last metric without `order_col` raises before the stream
    starts.
    """
    spec = catalog.load(table)
    rt_dir = catalog.rt_dir(table)
    _check_rollup(spec, order_col)
    prepared = prepare_events(events, spec)
    sort_cols = spec.realtime.agg.dims if (spec.realtime and spec.realtime.agg) else spec.sort_by

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if epoch_id <= _compact_watermark(catalog, table):
            # a replayed epoch whose data compaction already moved to
            # the historical table (sink wrote, checkpoint didn't
            # commit, compactor ran in between): re-writing it would
            # duplicate every row after the next compaction
            return
        rolled = _rollup_batch(batch, spec, order_col)
        if sort_cols:
            rolled = rolled.sortWithinPartitions(*[F.col(c) for c in sort_cols])
        rolled.write.mode("overwrite").parquet(os.path.join(rt_dir, f"batch={epoch_id}"))

    writer = prepared.writeStream.foreachBatch(sink).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(catalog.root, "_checkpoints", table),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def compact(spark: SparkSession, catalog: Catalog, table: str) -> int:
    """RTSMerge parity (rt/RTSMerge.java:30-86): merge all rt batches
    with re-rollup, append the result to the historical table as
    dim-sorted segments, then drop the rt batches. Returns the number
    of rows moved. The shuffle of the groupBy *is* the k-way merge —
    at 100 TB this runs as an ordinary batch job on its own schedule.
    """
    spec = catalog.load(table)
    rt_dir = catalog.rt_dir(table)
    # Pin the batch set FIRST: compaction may run alongside live
    # ingest, so a micro-batch committed after this listing must be
    # neither read, counted, nor deleted — only the pinned directories
    # are. A batch dir is pinned only once its _SUCCESS marker exists
    # (i.e. the streaming sink's write committed).
    pinned = (
        sorted(
            os.path.join(rt_dir, d)
            for d in os.listdir(rt_dir)
            if d.startswith("batch=")
            and os.path.exists(os.path.join(rt_dir, d, "_SUCCESS"))
        )
        if os.path.isdir(rt_dir)
        else []
    )
    readable = [
        p for p in pinned if any(f.endswith(".parquet") for f in os.listdir(p))
    ]
    if not readable:
        for p in pinned:  # committed-but-empty batches: nothing to move
            shutil.rmtree(p)
        _rmdir_if_empty(rt_dir)
        return 0
    rt = spark.read.option("basePath", rt_dir).parquet(*readable)
    agg = spec.realtime.agg if spec.realtime else None
    if agg is not None and agg.grouping:
        # first/last re-merge by the order bounds each rt group carries;
        # batches rolled up without an order_col carry none, and a
        # first/last metric then fails with rollup_aggs' named cause
        ords = (MIN_ORD, MAX_ORD) if MIN_ORD in rt.columns else (None, None)
        merged = rt.groupBy(*agg.dims).agg(*rollup_aggs(agg.metrics, *ords))
    else:
        merged = rt

    merged = merged.select(*[c.name for c in spec.columns if c.name in merged.columns])
    n = merged.count()
    sort_by = (agg.dims if agg else None) or spec.sort_by or None
    table_dir = catalog.table_dir(table)
    from indexr_spark.sources.snapshots import append_snapshot, latest_version

    if latest_version(table_dir):
        # snapshot-adopted table (a rewrite tool converted it): the
        # compacted rows must enter through a manifest APPEND — a
        # plain directory append would bypass the manifest (rows
        # invisible to manifest readers) while the whole-dir sidecar
        # rewrite would resurrect superseded files for pruned reads.
        append_snapshot(merged, table_dir, sort_by=sort_by)
    else:
        # write_segments refreshes the sidecar over the whole table dir.
        write_segments(merged, table_dir, sort_by=sort_by, mode="append")
    # Record the compacted high-water epoch BEFORE deleting the batch
    # dirs: a crash-replayed epoch at or below it must not re-write
    # data that now lives in the historical table.
    _set_compact_watermark(catalog, table, max(_epoch_of(p) for p in pinned))
    # Delete ONLY the pinned batches — any batch committed while the
    # merge ran stays for the next compaction (no data loss window).
    for p in pinned:
        shutil.rmtree(p)
    _rmdir_if_empty(rt_dir)
    return n


def _epoch_of(batch_dir: str) -> int:
    return int(os.path.basename(batch_dir).split("=", 1)[1])


def _watermark_path(catalog: Catalog, table: str) -> str:
    return os.path.join(catalog.root, "_compact_state", f"{table}.json")


def _compact_watermark(catalog: Catalog, table: str) -> int:
    """Highest epoch id whose batch has been folded into the
    historical table (-1 = none). Epochs are strictly ordered per
    stream, so an arriving epoch <= watermark can only be a replay of
    already-compacted data."""
    import json

    p = _watermark_path(catalog, table)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        return json.load(f)["max_epoch"]


def _set_compact_watermark(catalog: Catalog, table: str, epoch: int) -> None:
    import json

    p = _watermark_path(catalog, table)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"max_epoch": max(epoch, _compact_watermark(catalog, table))}, f)
    os.replace(tmp, p)


def _rmdir_if_empty(path: str) -> None:
    """Remove `path` iff nothing is left in it (a concurrent ingest
    may have created a new batch dir — then this is a no-op)."""
    try:
        os.rmdir(path)
    except OSError:
        # non-empty (a concurrent ingest won the race and wrote a new
        # batch dir) or already gone — both mean "leave it be", which
        # is the function's contract; never escalate cleanup failure
        # into an ingest failure.
        pass
