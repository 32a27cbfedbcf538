"""JSON table catalog — TableSchema / AggSchema parity.

The reference keeps one JSON schema per table (TableSchema.java,
example: indexr-tool/example/example_schema.json): column list with
SQL type + optional per-column `index` flag + optional `default`
value; realtime tables add an AggSchema (grouping flag, dims, metrics
with agg ∈ {sum, first, last, min, max} — AggSchema.java:10-26,
AggType.java:8-29) and ingest settings (aliases, tag filter —
RealtimeSetting.java:10-26).

This module is the same contract as plain dataclasses ⇄ JSON, plus
the Spark-type mapping from SURVEY.md §1.2 (DATE/TIME/DATETIME are
stored as Spark date/int/timestamp — the reference's epoch-millis
encodings are storage details Parquet subsumes).

No-NULL emulation: the reference has no NULLs, only per-column
defaults (ColumnSchema.java:45-54). `apply_defaults` fills nulls with
the declared default on read/ingest, giving exact reference semantics
while the storage stays nullable (superset).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# SQLType → Spark type (SURVEY.md §1.2 mapping table)
SQL_TO_SPARK: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "varchar": T.StringType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "time": T.IntegerType(),  # ms-of-day; no native Spark TIME
    "datetime": T.TimestampNTZType(),
    "timestamp": T.TimestampNTZType(),
}

AGG_TYPES = ("sum", "first", "last", "min", "max")  # AggType.java:8-29


@dataclass
class ColumnSpec:
    """ColumnSchema.java:27-54 parity: name, type, index flag, default."""

    name: str
    sql_type: str
    index: bool = False
    default: object | None = None

    def spark_type(self) -> T.DataType:
        return SQL_TO_SPARK[self.sql_type.lower()]


@dataclass
class Metric:
    """(name, agg) pair — AggSchema.java metrics."""

    name: str
    agg: str

    def __post_init__(self) -> None:
        if self.agg not in AGG_TYPES:
            raise ValueError(f"unknown agg {self.agg!r}; expected one of {AGG_TYPES}")


@dataclass
class AggSchema:
    """Ingest-time rollup spec (AggSchema.java:10-26)."""

    grouping: bool
    dims: list[str]
    metrics: list[Metric] = field(default_factory=list)


@dataclass
class RealtimeSpec:
    """Ingest settings subset (RealtimeSetting.java:10-26): field
    aliases (`name.alias`), tag-based event filter (TagSetting.java),
    empty-event ignore strategy (EventIgnoreStrategy.java:7-12)."""

    aliases: dict[str, str] = field(default_factory=dict)  # event field → column
    tag_field: str | None = None
    accept_tags: list[str] = field(default_factory=list)
    ignore_empty: bool = False
    agg: AggSchema | None = None


@dataclass
class TableSpec:
    """TableSchema.java parity: the full JSON-declared table."""

    name: str
    columns: list[ColumnSpec]
    realtime: RealtimeSpec | None = None
    sort_by: list[str] = field(default_factory=list)  # segment sort dims

    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.name, c.spark_type(), True) for c in self.columns]
        )

    def indexed_columns(self) -> list[str]:
        return [c.name for c in self.columns if c.index]

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, default=str)

    @classmethod
    def from_json(cls, text: str) -> "TableSpec":
        raw = json.loads(text)
        cols = [ColumnSpec(**c) for c in raw["columns"]]
        rt = None
        if raw.get("realtime"):
            r = dict(raw["realtime"])
            if r.get("agg"):
                a = dict(r["agg"])
                a["metrics"] = [Metric(**m) for m in a.get("metrics", [])]
                r["agg"] = AggSchema(**a)
            rt = RealtimeSpec(**r)
        return cls(
            name=raw["name"],
            columns=cols,
            realtime=rt,
            sort_by=raw.get("sort_by", []),
        )


def apply_defaults(df: DataFrame, spec: TableSpec) -> DataFrame:
    """No-NULL emulation: replace nulls with declared defaults
    (ColumnSchema defaultNumberValue/defaultStringValue parity)."""
    for c in spec.columns:
        if c.default is not None and c.name in df.columns:
            df = df.withColumn(
                c.name,
                F.coalesce(F.col(c.name), F.lit(c.default).cast(c.spark_type())),
            )
    return df


class Catalog:
    """Directory-backed catalog: one JSON spec + one data dir per
    table (the ZooKeeper-held schema registry of the reference —
    HybridTable.java:64-82 — reduced to files; on a cluster this
    would be the metastore)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.last_prune: dict[str, object] = {}  # table → PruneResult of last sql()
        # name → (index_stamp, table sidecar, snapshot version, live stats)
        self._stats_cache: dict[str, tuple] = {}
        # name → ((session, spec, snapshot version or file stamp), unpruned read)
        self._hist_frames: dict[str, tuple] = {}
        # name → realtime frame of the view register_sql_views last made
        self._rt_frames: dict[str, DataFrame | None] = {}
        os.makedirs(os.path.join(root, "_schemas"), exist_ok=True)

    def _spec_path(self, name: str) -> str:
        return os.path.join(self.root, "_schemas", f"{name}.json")

    def table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def rt_dir(self, name: str) -> str:
        return os.path.join(self.root, name + "_rt")

    def save(self, spec: TableSpec) -> None:
        """Write the table's spec. Refuses a name whose data dir is
        another table's realtime dir, or the reverse (`x` beside
        `x_rt`): the hybrid read of `x` would take `x_rt`'s segments
        for its realtime rows."""
        new = self.table_dir(spec.name)
        for other in self.list_tables():
            if new == self.rt_dir(other) or self.rt_dir(spec.name) == self.table_dir(other):
                raise ValueError(
                    f"table {spec.name!r} collides with table {other!r}: one's "
                    "data dir is the other's realtime dir"
                )
        with open(self._spec_path(spec.name), "w") as f:
            f.write(spec.to_json())

    def load(self, name: str) -> TableSpec:
        with open(self._spec_path(name)) as f:
            return TableSpec.from_json(f.read())

    def list_tables(self) -> list[str]:
        d = os.path.join(self.root, "_schemas")
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    def read(self, spark: SparkSession, name: str, files=None) -> DataFrame:
        """Historical segments as a DataFrame of exactly the spec's
        columns, typed by the spec, with defaults applied — through
        snapshots.read_table, so a snapshot-managed table is read at
        its manifest's live files. The read never infers a schema (so
        it launches no footer job), and a spec column missing from
        older files reads as its default. An empty pool
        (pre-first-compaction) reads as zero rows.

        `files` is an already-pruned scan list (sql() passes its
        PruneResult.scan; the caller re-applies the exact filter).

        The unpruned frame is memoized, one entry per table, keyed on
        the session, the spec and what the frame's file listing
        depends on: the snapshot version (it pins its files), or for a
        plain directory the path, mtime and size of every file under
        it. Queries between two writes reuse one frame instead of
        re-reading the manifest and re-listing the files (Spark lists
        more than 32 paths with a job of its own)."""
        from indexr_spark.sources.snapshots import latest_version, read_table

        spec = self.load(name)
        path = self.table_dir(name)
        if files is not None:
            return apply_defaults(read_table(spark, path, files, spec.schema()), spec)
        version = latest_version(path)
        if version:
            key = (spark, spec, version)
        else:
            listing = _file_stamp(path)
            if not any(f.endswith(".parquet") for f, _, _ in listing):
                return spark.createDataFrame([], spec.schema())
            key = (spark, spec, listing)
        memo = self._hist_frames.get(name)
        if memo is None or memo[0] != key:
            df = apply_defaults(read_table(spark, path, schema=spec.schema()), spec)
            memo = self._hist_frames[name] = (key, df)
        return memo[1]

    def _read_rt(self, spark: SparkSession, spec: TableSpec) -> DataFrame | None:
        """The realtime pool in the spec's columns, or None when empty."""
        rt_path = self.rt_dir(spec.name)
        if not _has_parquet(rt_path):
            return None
        # explicit select: partition discovery (batch=<epoch> dirs)
        # appends a partition column beyond the declared schema
        rt = (
            spark.read.schema(spec.schema())
            .parquet(rt_path)
            .select(*[c.name for c in spec.columns])
        )
        return apply_defaults(rt, spec)

    def read_hybrid(self, spark: SparkSession, name: str) -> DataFrame:
        """HybridTable parity (HybridTable.java:22-66): one logical
        table = historical pool ∪ realtime pool, as a UNION ALL view.
        Readable mid-ingest; the compactor later folds rt → historical.
        sql() prunes the historical pool; rt batches are small,
        short-lived and sidecar-less, so they are always scanned."""
        hist = self.read(spark, name)
        rt = self._read_rt(spark, self.load(name))
        return hist if rt is None else hist.unionByName(rt)

    def prune(self, name: str, predicate):
        """Rough-check the table's sidecar against `predicate`;
        returns a PruneResult, or None when no sidecar exists.

        Default-value soundness: stored NULLs surface as the declared
        default after `apply_defaults`, so a defaulted column's bounds
        are widened by its default wherever the file holds nulls —
        without this, `WHERE c = <default>` could skip files whose
        null rows would have matched.

        Snapshot-managed tables: delta appends defer the O(files)
        sidecar rewrite to the periodic full-manifest materialization,
        so the sidecar may LAG the manifest. The stats come from
        snapshots.live_stats (shared with segments.read_pruned and the
        copy-on-write rewrites): exactly the live files, each newer
        file from its batch sidecar, and one no sidecar covers is
        scanned. Freshness is a pruning-quality knob, never a
        correctness input."""
        from indexr_spark.plans.rough_check import ColStats, prune as rc_prune
        from indexr_spark.sources.segments import SIDECAR_NAME, index_stamp, load_sidecar
        from indexr_spark.sources.snapshots import latest_version, live_stats

        path = self.table_dir(name)
        if not os.path.exists(os.path.join(path, SIDECAR_NAME)):
            return None
        # Two-level cache. The parsed table sidecar is keyed on the
        # (mtime_ns, size) of every file load_sidecar merges: repeated
        # queries against an unchanged table skip re-parsing the
        # sidecar/cmap/term files (the reference holds its indexes in
        # IndexMemCache for the same reason). Invalidation = any full
        # commit rewrites the sidecar, any index build rewrites the
        # cmap and postings; nanosecond mtime + byte size guards the
        # same-coarse-second rewrite a bare mtime would miss. The live
        # stats on top of it are keyed on the snapshot version too, so
        # a delta commit re-reads only the manifest and the new
        # batches' sidecars.
        stamp, version = index_stamp(path), latest_version(path)
        cached = self._stats_cache.get(name)
        try:
            if cached is None or cached[0] != stamp:
                cached = (stamp, load_sidecar(path), None, None)
            if cached[2] != version:
                cached = (*cached[:2], version, live_stats(path, table=cached[1]))
        except Exception:
            # corrupt/truncated sidecar (e.g. a torn write): never
            # let pruning break a query — degrade to full scan
            return None
        self._stats_cache[name] = cached
        stats = cached[3]
        stats = {f: dict(cols) for f, cols in stats.items()}  # defaults edit a copy
        spec = self.load(name)
        defaulted = [c for c in spec.columns if c.default is not None]
        for fstats in stats.values():
            for c in defaulted:
                s = fstats.get(c.name)
                if s is not None and s.null_count > 0:
                    try:
                        fstats[c.name] = ColStats(
                            min(s.min, c.default), max(s.max, c.default), s.null_count
                        )
                    except TypeError:
                        fstats.pop(c.name)  # incomparable default → no stats
        return rc_prune(stats, predicate)

    def build_indexes(self, spark: SparkSession, name: str) -> dict[str, int]:
        """Build the optional string-column indexes for every
        index-flagged string column (ColumnSchema's `index` flag): the
        term→file inverted index (=/IN pruning) and the cmap character
        summary (%needle% pruning), in one pass. Returns the posting
        count per indexed column."""
        from indexr_spark.sources.segments import build_string_indexes

        spec = self.load(name)
        cols = [
            c.name
            for c in spec.columns
            if c.index and c.sql_type.lower() in ("varchar", "string")
        ]
        return build_string_indexes(spark, self.table_dir(name), cols) if cols else {}

    def register_sql_views(self, spark: SparkSession, hybrid: bool = True) -> list[str]:
        """Expose every catalog table to plain `spark.sql(...)` — the
        equivalent of the reference publishing tables to its host
        engines (Drill storage plugin / Hive SerDe / Spark relation,
        SURVEY.md §2.4). With hybrid=True queries see realtime rows
        too, exactly like HybridTable."""
        names = self.list_tables()
        self._rt_frames = {}
        for name in names:
            hist = self.read(spark, name)
            rt = self._rt_frames[name] = self._read_rt(spark, self.load(name)) if hybrid else None
            (hist if rt is None else hist.unionByName(rt)).createOrReplaceTempView(name)
        return names

    def sql(self, spark: SparkSession, query: str, hybrid: bool = True) -> DataFrame:
        """Run SQL over the catalog with rough-check pruning on every
        historical scan, plain or snapshot-managed — the reference's
        default read path (the skipping cascade runs unconditionally in
        IndexRRecordReader.init2:119-154).

        Two-phase: (1) analyze the query over the registered views and
        walk the optimized plan for the filter conjuncts Catalyst
        pushed onto each parquet relation (plans.catalyst_filter — the
        SparkFilter adapter, one driver-side traversal). A relation
        belongs to the table whose data dir holds every one of its root
        paths, compared by path component, so a snapshot read (one
        root per live file or batch dir) maps to its table and the
        realtime pool (`<name>_rt`) maps to none. (2) Re-register each
        table with skipped files as its pruned historical read, unioned
        with phase 1's realtime frame, re-plan, and put the phase-1
        view back. Files are skipped only on a provable NONE; the
        query's own filters still apply, so results are identical to
        the unpruned plan. Per-table decisions land in
        `self.last_prune` for observability."""
        from indexr_spark.plans.catalyst_filter import relation_filters
        from indexr_spark.plans.rough_check import Or, Unknown

        names = self.register_sql_views(spark, hybrid)
        df = spark.sql(query)
        self.last_prune = {}
        try:
            by_roots = relation_filters(df._jdf.queryExecution().optimizedPlan())
        except Exception:
            return df  # plan walk failed (e.g. connect mode): unpruned
        dirs = {name: os.path.realpath(self.table_dir(name)) for name in names}
        occs: dict[str, list] = {}
        for roots, ops in by_roots.items():
            real = [os.path.realpath(r) for r in roots]
            for name, d in dirs.items():
                if all(os.path.commonpath((r, d)) == d for r in real):
                    occs.setdefault(name, []).extend(ops)
                    break
        restore: dict[str, DataFrame] = {}  # phase-1 view of each swapped table
        for name, ops in occs.items():
            # several occurrences (self-join): a file survives if ANY
            # occurrence might match it
            pred = ops[0] if len(ops) == 1 else Or(tuple(ops))
            if isinstance(pred, Unknown):
                continue
            result = self.prune(name, pred)
            if result is None:
                continue
            self.last_prune[name] = result
            if result.skipped:
                restore[name] = spark.table(name)
                view = self.read(spark, name, files=result.scan)
                rt = self._rt_frames.get(name)
                (view if rt is None else view.unionByName(rt)).createOrReplaceTempView(name)
        if restore:
            df = spark.sql(query)  # resolved now — safe to restore views
            for name, view in restore.items():  # restore only what was swapped
                view.createOrReplaceTempView(name)
        return df


# SQLType → DDL type for external-engine CREATE TABLE statements.
_DDL_TYPES = {
    "int": "INT",
    "bigint": "BIGINT",
    "long": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "varchar": "STRING",
    "string": "STRING",
    "date": "DATE",
    "time": "INT",  # ms-of-day; flagged in indexr.time.columns
    "datetime": "TIMESTAMP_NTZ",
    "timestamp": "TIMESTAMP_NTZ",
}
_SPARK_TO_SQL = {  # Spark DataType.typeName() → SQLType
    "integer": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "varchar",
    "date": "date",
    "timestamp_ntz": "datetime",
}


def hive_ddl(spec: TableSpec, location: str) -> str:
    """External-engine DDL with the table spec encoded in
    TBLPROPERTIES — HiveHelper.getHiveTableCreateSql parity
    (HiveHelper.java:28-96: mode/index/agg travel as TBLPROPERTIES so
    any engine reading the metastore can reconstruct the IndexR
    table). Executable by spark.sql(); `spec_from_table` reverses it.
    """
    cols = ",\n  ".join(
        f"`{c.name}` {_DDL_TYPES[c.sql_type.lower()]}" for c in spec.columns
    )
    props: dict[str, str] = {}
    idx = [c.name for c in spec.columns if c.index]
    if idx:
        props["indexr.index.columns"] = ",".join(idx)
    if spec.sort_by:
        props["indexr.sort.columns"] = ",".join(spec.sort_by)
    time_cols = [c.name for c in spec.columns if c.sql_type.lower() == "time"]
    if time_cols:
        props["indexr.time.columns"] = ",".join(time_cols)
    defaults = {c.name: c.default for c in spec.columns if c.default is not None}
    if defaults:
        props["indexr.defaults"] = json.dumps(defaults)
    rt = spec.realtime
    if rt is not None and rt.agg is not None:
        props["indexr.agg.grouping"] = str(rt.agg.grouping).lower()
        props["indexr.agg.dims"] = ",".join(rt.agg.dims)
        props["indexr.agg.metrics"] = ",".join(
            f"{m.name}:{m.agg}" for m in rt.agg.metrics
        )
    prop_sql = ",\n  ".join(
        f"'{k}' = '{v}'" for k, v in sorted(props.items())
    )
    tail = f"\nTBLPROPERTIES (\n  {prop_sql}\n)" if props else ""
    return (
        f"CREATE TABLE `{spec.name}` (\n  {cols}\n)\n"
        f"USING PARQUET\nLOCATION '{location}'{tail}"
    )


def spec_from_table(spark: SparkSession, table: str) -> TableSpec:
    """Reconstruct a TableSpec from a metastore table created with
    hive_ddl — the round trip that lets an external engine (or a
    fresh session) recover index/sort/agg/default settings from
    TBLPROPERTIES alone."""
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES `{table}`").collect()
    }
    idx = set(filter(None, props.get("indexr.index.columns", "").split(",")))
    time_cols = set(filter(None, props.get("indexr.time.columns", "").split(",")))
    defaults = json.loads(props.get("indexr.defaults", "{}"))
    cols = []
    for f in spark.table(table).schema.fields:
        sql_type = (
            "time"
            if f.name in time_cols
            else _SPARK_TO_SQL[f.dataType.typeName()]
        )
        cols.append(
            ColumnSpec(
                f.name,
                sql_type,
                index=f.name in idx,
                default=defaults.get(f.name),
            )
        )
    rt = None
    if "indexr.agg.dims" in props:
        metrics = [
            Metric(*m.split(":"))
            for m in filter(None, props.get("indexr.agg.metrics", "").split(","))
        ]
        rt = RealtimeSpec(
            agg=AggSchema(
                grouping=props.get("indexr.agg.grouping") == "true",
                dims=list(filter(None, props["indexr.agg.dims"].split(","))),
                metrics=metrics,
            )
        )
    return TableSpec(
        name=table.split(".")[-1],
        columns=cols,
        realtime=rt,
        sort_by=list(filter(None, props.get("indexr.sort.columns", "").split(","))),
    )


def _file_stamp(path: str) -> tuple:
    """(relative path, mtime_ns, size) of every file under `path`."""
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def _has_parquet(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _, _, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False
