"""Seeded generators and closed-loop drivers for the two workloads,
and the dedup pass that measures the operators layer.

The program under test only ever sees generated query text and
generated input files. Every result is checked after the timed window
against DuckDB running the same SQL over the same inputs.

A workload exposes `setup(i)`, `op()` → (kind, callable), `cycle_ops`
(the op count of one whole mix), `loads` (seconds and rows of each bulk
load into the engine), `verify()` and `storage()`.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# olap_selective: the column distributions of the sf0.1 lineitem
# table at a quarter of its rows in an eighth of its segments
OLAP_ROWS = 150_000
OLAP_SEGMENTS = 64
OLAP_MIN_QUERIES = 48
ORDERS = 150_000
SHIP_START = dt.date(1995, 1, 2)
SHIP_DAYS = 2499  # to 2001-11-04
# hybrid_ingest
BATCH_EVENTS = 20_000
COMPACT_EVERY = 5
MIN_CYCLES = 4
# ingest and query times fall by a third over the first ~35 ops of a
# session as the JVM compiles them; timing starts after this many cycles
WARMUP_CYCLES = 3
HIST_EVENTS = 40_000
EVENT_START = dt.date(2024, 1, 1)
EVENT_TYPES = ["view", "click", "cart", "purchase", "share", "search"]
EVENT_TYPE_P = [0.40, 0.25, 0.12, 0.08, 0.05, 0.10]
USERS = 20_000

# dedup pass: the sf0.01 shape of the documents and embeddings tables
DOCS = 500
VECTORS = 500
DIM = 64
DEDUP_ROWS = (
    "d07_minhash_lsh",
    "d09_ngram_jaccard",
    "d32_simhash_pairs",
    "d33_neardup_incremental",
    "s06_ivf_topk",
)

# setup_s is the median of this many full set-ups, the first cold; the
# median is a warm one, since a cold set-up's class loading and JIT
# spread it by an IQR/median of 0.19 over ten seeds
SETUPS = 3


class Workload:
    """Defaults shared by the workloads."""

    cycle_ops = 1
    min_cycles = 1
    warmup_ops = 6

    def __init__(self, run) -> None:
        self.run = run
        self.loads: list[tuple[float, int]] = []

    def start_window(self) -> None:
        """Called once before the timed window."""

    def finish(self) -> None:
        """Untimed work after the window, while the session is up."""

    def close(self) -> None:
        """Stop what the workload started in the session."""

    def live_files(self) -> int:
        return 0

    def timed_load(self, fn, rows: int) -> None:
        t0 = time.time()
        fn()
        self.loads.append((time.time() - t0, rows))


# ---------------------------------------------------------------- olap


def gen_lineitem(seed: int, path: str, rows: int = OLAP_ROWS) -> None:
    """Lineitem with the distributions of the sf0.1 test table: every
    column drawn uniformly and independently, rows in random order, so
    only l_shipdate lines up with the shipdate-sorted segment layout."""
    rng = np.random.default_rng(seed)
    ship = np.datetime64(SHIP_START) + rng.integers(0, SHIP_DAYS, rows).astype("timedelta64[D]")
    table = pa.table(
        {
            "l_orderkey": rng.integers(0, ORDERS, rows),
            "l_partkey": rng.integers(0, 20_000, rows),
            "l_suppkey": rng.integers(0, 1_000, rows),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, rows) / 100.0,
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), rows),
            "l_linestatus": rng.choice(np.array(["F", "O"]), rows),
            "l_shipdate": pa.array(ship.astype("datetime64[D]"), pa.date32()),
        }
    )
    pq.write_table(table, path)


def lineitem_spec():
    from indexr_spark.sources.catalog import ColumnSpec, TableSpec

    cols = [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "varchar"),
        ("l_linestatus", "varchar"),
        ("l_shipdate", "date"),
    ]
    return TableSpec(
        "lineitem",
        [ColumnSpec(n, t, index=t == "varchar") for n, t in cols],
        sort_by=["l_shipdate"],
    )


def _day(offset: int) -> str:
    return f"DATE '{SHIP_START + dt.timedelta(days=offset)}'"


def _window(mix: Mix, lo: float, hi: float) -> tuple[int, int]:
    width = max(1, int(SHIP_DAYS * mix.uniform(lo, hi)))
    start = mix.rng.randrange(0, SHIP_DAYS - width)
    return start, start + width


def _between(w: tuple[int, int]) -> str:
    return f"l_shipdate BETWEEN {_day(w[0])} AND {_day(w[1])}"


class Mix:
    """Stratified draw of (predicate form, select shape) and of the
    literals that set a predicate's selectivity. Every form × shape
    combination is dealt once per cycle, and selectivities are midpoints
    of quantiles dealt from a second deck. Both decks are dealt in one
    fixed order, the same for every seed: queries speed up over a run's
    first few dozen as the JVM compiles them, so a seed-dependent order
    put different work on that ramp and moved the median query by up to
    a third between seeds. The seed draws where each window sits."""

    QUANTILES = 8

    def __init__(self, rng: random.Random, forms: int, shapes: int) -> None:
        self.rng = rng
        self.shapes = shapes
        self.sizes = (forms * shapes, self.QUANTILES)
        self.reset()

    def reset(self) -> None:
        """Start the fixed deal over: at set-up and at the window."""
        self.order = random.Random(0)
        self.decks: tuple[list[int], list[int]] = ([], [])

    def pick(self, options: list[str]) -> str:
        """A choice that changes a query's cost, dealt like the decks."""
        return self.order.choice(options)

    def _deal(self, i: int) -> int:
        deck = self.decks[i]
        if not deck:
            deck.extend(range(self.sizes[i]))
            self.order.shuffle(deck)
        return deck.pop()

    def next(self) -> tuple[int, int]:
        return divmod(self._deal(0), self.shapes)

    def uniform(self, lo: float, hi: float) -> float:
        """A stratified draw from [lo, hi): the midpoint of a dealt
        quantile."""
        return lo + (hi - lo) * (self._deal(1) + 0.5) / self.QUANTILES


def selective_predicate(mix: Mix, form: int) -> str:
    """A shipdate window of 0.5-10% of the range, alone or combined
    with other columns so that the shipdate bound still holds."""
    if form == 0:
        return _between(_window(mix, 0.005, 0.10))
    if form == 1:
        other = mix.pick(
            ["l_returnflag = 'R'", "l_quantity < 25", "l_discount >= 0.05", "l_linestatus = 'O'"]
        )
        return f"{_between(_window(mix, 0.005, 0.10))} AND {other}"
    if form == 2:
        a, b = _window(mix, 0.005, 0.05), _window(mix, 0.005, 0.05)
        return f"({_between(a)} OR {_between(b)})"
    if form == 3:
        lo, hi = _window(mix, 0.005, 0.10)
        return f"NOT (l_shipdate < {_day(lo)} OR l_shipdate > {_day(hi)}) AND l_tax > 0.02"
    if form == 4:
        a, b = _window(mix, 0.005, 0.05), _window(mix, 0.005, 0.05)
        return (
            f"(({_between(a)} AND l_linestatus = 'O') OR "
            f"({_between(b)} AND l_returnflag = 'A'))"
        )
    return f"{_between(_window(mix, 0.005, 0.10))} AND NOT l_returnflag = 'N'"


SELECTIVE_MIX = (6, 4)  # predicate forms x select shapes


def selective_query(mix: Mix, form: int, shape: int) -> str:
    where = "WHERE " + selective_predicate(mix, form)
    if shape == 0:
        return (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
            "sum(l_extendedprice) AS p, avg(l_discount) AS d FROM lineitem "
            f"{where} GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        )
    if shape == 1:
        return (
            "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
            f"{where} ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"
        )
    if shape == 2:
        return (
            "SELECT l_shipdate, count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS rev "
            f"FROM lineitem {where} GROUP BY l_shipdate ORDER BY rev DESC, l_shipdate LIMIT 5"
        )
    return (
        "SELECT count(*) AS n, min(l_shipdate) AS lo, max(l_shipdate) AS hi, "
        f"sum(l_tax) AS t FROM lineitem {where}"
    )


class Olap(Workload):
    """olap_selective: one lineitem table in shipdate-sorted segments,
    queried through Catalog.sql by one closed-loop client. A cycle is
    one whole mix, every form × shape combination once; a window holds
    at least OLAP_MIN_QUERIES queries."""

    table = "lineitem"

    def __init__(self, run) -> None:
        super().__init__(run)
        forms, shapes = SELECTIVE_MIX
        self.cycle_ops = forms * shapes
        self.min_cycles = math.ceil(OLAP_MIN_QUERIES / self.cycle_ops)
        self.rng = random.Random(run.seed)
        self.mix = Mix(self.rng, forms, shapes)
        self.src = os.path.join(run.root, "lineitem.parquet")
        gen_lineitem(run.seed, self.src)
        self.rows_offered = OLAP_ROWS
        self.catalog = None
        self.checks: list[tuple[str, list]] = []

    def setup(self, i: int) -> None:
        """Build the table in a fresh catalog."""
        from indexr_spark.sources.catalog import Catalog
        from indexr_spark.sources.segments import write_segments

        spark = self.run.spark
        if self.catalog is not None:
            shutil.rmtree(self.catalog.root)
        cat = Catalog(os.path.join(self.run.root, f"catalog{i}"))
        cat.save(lineitem_spec())

        def load():
            write_segments(
                spark.read.parquet(self.src),
                cat.table_dir(self.table),
                sort_by=["l_shipdate"],
                num_segments=OLAP_SEGMENTS,
            )
            cat.build_indexes(spark, self.table)

        self.timed_load(load, OLAP_ROWS)
        self.catalog = cat

    def start_window(self) -> None:
        self.mix.reset()

    def op(self):
        """Next operation: (kind, callable). The callable returns the
        collected rows; the check is queued for after the window."""
        sql = selective_query(self.mix, *self.mix.next())
        return "query", lambda: self._query(sql)

    def _query(self, sql: str):
        t0 = time.time()
        df = self.catalog.sql(self.run.spark, sql)
        t1 = time.time()
        rows = [tuple(r) for r in df.collect()]
        self.run.note(front_door_s=t1 - t0, collect_s=time.time() - t1)
        self.checks.append((sql, rows))
        return rows

    def verify(self, corrupt: bool) -> tuple[int, int]:
        import duckdb

        con = duckdb.connect()
        glob = os.path.join(self.catalog.table_dir(self.table), "part-*.parquet")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{glob}')")
        wrong = 0
        for i, (sql, rows) in enumerate(self.checks):
            if corrupt and i == 0:
                rows = rows[:-1] + [("corrupted",)]
            wrong += not same_rows(rows, con.execute(sql).fetchall())
        con.close()
        return len(self.checks), wrong

    def storage(self) -> tuple[int, int]:
        from tracing import dir_bytes

        return dir_bytes(self.catalog.table_dir(self.table))


# -------------------------------------------------------------- hybrid


def events_spec():
    from indexr_spark.sources.catalog import (
        AggSchema,
        ColumnSpec,
        Metric,
        RealtimeSpec,
        TableSpec,
    )

    dims = ["event_date", "event_type", "user_id"]
    return TableSpec(
        "events_rt",
        [
            ColumnSpec("event_date", "date"),
            ColumnSpec("event_type", "varchar"),
            ColumnSpec("user_id", "bigint"),
            ColumnSpec("cnt", "bigint"),
            ColumnSpec("value", "double"),
            ColumnSpec("peak", "double"),
        ],
        realtime=RealtimeSpec(
            aliases={"uid": "user_id"},
            agg=AggSchema(
                grouping=True,
                dims=dims,
                metrics=[Metric("cnt", "sum"), Metric("value", "sum"), Metric("peak", "max")],
            ),
        ),
        sort_by=dims,
    )


class EventGen:
    """Seeded raw events. Batch b carries days b-2..b (late arrivals),
    users are Zipf-skewed so the rollup folds repeat keys, and values
    are whole numbers so sums are exact in double precision."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, USERS + 1) ** 1.1
        self.user_p = w / w.sum()

    def batch(self, first_day: int, last_day: int, n: int) -> pa.Table:
        rng = self.rng
        days = rng.integers(first_day, last_day + 1, n)
        return pa.table(
            {
                "event_date": pa.array(
                    (np.datetime64(EVENT_START) + days.astype("timedelta64[D]")).astype(
                        "datetime64[D]"
                    ),
                    pa.date32(),
                ),
                "event_type": rng.choice(np.array(EVENT_TYPES), n, p=EVENT_TYPE_P),
                "uid": rng.choice(USERS, n, p=self.user_p).astype(np.int64) + 1,
                "cnt": np.ones(n, dtype=np.int64),
                "value": rng.integers(1, 501, n).astype(np.float64),
                "peak": rng.integers(1, 2001, n).astype(np.float64),
            }
        )


def _edate(day: int) -> str:
    return f"DATE '{EVENT_START + dt.timedelta(days=day)}'"


HYBRID_SHAPES = 3


def hybrid_query(rng: random.Random, shape: int, last_day: int) -> str:
    """Rollup-invariant queries (sum/max only), so the hybrid view and
    the raw-event oracle must agree whatever the rollup state."""
    if shape == 0:
        lo = last_day - rng.randrange(1, 8)
        return (
            "SELECT event_type, sum(cnt) AS n, sum(value) AS v, max(peak) AS m "
            f"FROM events_rt WHERE event_date >= {_edate(lo)} "
            "GROUP BY event_type ORDER BY event_type"
        )
    if shape == 1:
        lo = last_day - rng.randrange(3, 15)
        return (
            "SELECT user_id, sum(value) AS v, sum(cnt) AS n FROM events_rt "
            f"WHERE event_date >= {_edate(lo)} GROUP BY user_id "
            "ORDER BY v DESC, user_id LIMIT 10"
        )
    kind = rng.choice(EVENT_TYPES)
    return (
        "SELECT event_date, sum(cnt) AS n, max(peak) AS m FROM events_rt "
        f"WHERE event_type = '{kind}' GROUP BY event_date ORDER BY event_date"
    )


TOTALS_SQL = (
    "SELECT event_type, sum(cnt) AS n, sum(value) AS v FROM events_rt "
    "GROUP BY event_type ORDER BY event_type"
)


class Hybrid(Workload):
    """hybrid_ingest: a snapshot-managed realtime table with rollup. Per
    batch the generator lands one JSON file, waits for it to become
    readable, then queries the hybrid view; every COMPACT_EVERY batches
    it compacts. One client, closed loop."""

    table = "events_rt"
    # any run of this many consecutive ops holds one whole cycle
    cycle_ops = 2 * COMPACT_EVERY + 1
    min_cycles = MIN_CYCLES
    warmup_ops = WARMUP_CYCLES * cycle_ops

    def __init__(self, run) -> None:
        import duckdb

        super().__init__(run)
        self.rng = random.Random(run.seed)
        self.gen = EventGen(run.seed)
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE raw (batch INTEGER, event_date DATE, event_type VARCHAR, "
            "uid BIGINT, cnt BIGINT, value DOUBLE, peak DOUBLE)"
        )
        self.hist = self.gen.batch(-30, -1, HIST_EVENTS)
        self._add_raw(-1, self.hist)
        self.rows_offered = HIST_EVENTS
        self.batches = 0
        self.catalog = None
        self.stream = None
        self.checks: list[tuple[str, int, list]] = []
        self.inbox = os.path.join(run.root, "inbox")
        self.staging = os.path.join(run.root, "staging")
        os.makedirs(self.staging, exist_ok=True)
        self.seen_batches: set[int] = set()
        self.queue: list = []
        self.mix = Mix(self.rng, 1, HYBRID_SHAPES)

    def _add_raw(self, batch: int, table: pa.Table) -> None:
        self.con.register("incoming", table)
        self.con.execute(f"INSERT INTO raw SELECT {batch}, * FROM incoming")
        self.con.unregister("incoming")

    def setup(self, i: int) -> None:
        from indexr_spark.sources.catalog import Catalog
        from indexr_spark.sources.segments import write_segments
        from indexr_spark.sources.snapshots import ensure_snapshot
        from indexr_spark.streaming.ingest import prepare_events, start_ingest

        spark = self.run.spark
        if self.stream is not None:
            self.stream.stop()
            shutil.rmtree(self.catalog.root)
            shutil.rmtree(self.inbox)
        os.makedirs(self.inbox)
        spec = events_spec()
        cat = Catalog(os.path.join(self.run.root, f"catalog{i}"))
        cat.save(spec)
        src = os.path.join(self.staging, "hist.parquet")
        pq.write_table(self.hist, src)
        hist = prepare_events(spark.read.parquet(src), spec)
        write_segments(hist, cat.table_dir(self.table), agg=spec.realtime.agg)
        ensure_snapshot(cat.table_dir(self.table))
        events = spark.readStream.schema(raw_event_schema()).json(self.inbox)
        self.stream = start_ingest(spark, events, cat, self.table)
        self.stream.processAllAvailable()
        self.catalog = cat

    def op(self):
        """Next operation. A cycle is COMPACT_EVERY batches, each an
        ingest then one query, closed by a compaction."""
        if not self.queue:
            sql = hybrid_query(self.rng, self.mix.next()[1], self.batches)
            self.queue = [("ingest", self._ingest), ("query", lambda: self._query(sql))]
            if (self.batches + 1) % COMPACT_EVERY == 0:
                self.queue.append(("compact", self._compact))
        return self.queue.pop(0)

    def _ingest(self):
        """Land one event file and wait until its batch is readable.
        The event file is generated before the clock starts."""
        b = self.batches
        batch = self.gen.batch(b - 2, b, BATCH_EVENTS)
        self._add_raw(b, batch)
        staged = os.path.join(self.staging, f"b{b:05d}.json")
        self.con.execute(
            f"COPY (SELECT event_date, event_type, uid, cnt, value, peak FROM raw "
            f"WHERE batch = {b}) TO '{staged}' (FORMAT JSON)"
        )
        t0 = time.time()
        os.rename(staged, os.path.join(self.inbox, f"b{b:05d}.json"))
        self.stream.processAllAvailable()
        t1 = time.time()
        self.batches += 1
        self.rows_offered += BATCH_EVENTS
        # lastProgress reader: every micro-batch that carried rows since
        # the previous op, with the rows its rollup wrote
        progress = [
            p
            for p in self.stream.recentProgress
            if p["numInputRows"] > 0 and p["batchId"] not in self.seen_batches
        ]
        for p in progress:
            self.seen_batches.add(p["batchId"])
            p["rowsOut"] = _parquet_rows(
                os.path.join(self.catalog.rt_dir(self.table), f"batch={p['batchId']}")
            )
        self.run.note(start=t0, end=t1, progress=progress, rows=BATCH_EVENTS)

    def finish(self) -> None:
        self.checked_totals()

    def _query(self, sql: str):
        pending = self._pending()
        t0 = time.time()
        df = self.catalog.sql(self.run.spark, sql)
        t1 = time.time()
        rows = [tuple(r) for r in df.collect()]
        self.run.note(front_door_s=t1 - t0, collect_s=time.time() - t1, rt_pending=pending)
        self.checks.append((sql, self.batches, rows))
        return rows

    def _compact(self):
        from indexr_spark.streaming import ingest

        moved = ingest.compact(self.run.spark, self.catalog, self.table)
        self.run.note(end=time.time(), rows_moved=moved)
        self.checked_totals()
        return moved

    def checked_totals(self) -> None:
        """Untimed, untraced exactly-once check: totals per event_type
        over the hybrid view against the generator's running totals."""
        with self.run.untraced():
            df = self.catalog.sql(self.run.spark, TOTALS_SQL)
            self.checks.append((TOTALS_SQL, self.batches, [tuple(r) for r in df.collect()]))

    def _pending(self) -> int:
        rt = self.catalog.rt_dir(self.table)
        return sum(d.startswith("batch=") for d in os.listdir(rt)) if os.path.isdir(rt) else 0

    def verify(self, corrupt: bool) -> tuple[int, int]:
        wrong = 0
        for i, (sql, upto, rows) in enumerate(self.checks):
            self.con.execute(
                "CREATE OR REPLACE VIEW events_rt AS SELECT event_date, event_type, "
                f"uid AS user_id, cnt, value, peak FROM raw WHERE batch < {upto}"
            )
            if corrupt and i == 0:
                rows = rows[:-1] + [("corrupted",)]
            wrong += not same_rows(rows, self.con.execute(sql).fetchall())
        self.con.close()
        return len(self.checks), wrong

    def live_files(self) -> int:
        from indexr_spark.sources.snapshots import files_of, latest_version

        path = self.catalog.table_dir(self.table)
        return len(files_of(path, latest_version(path)))

    def storage(self) -> tuple[int, int]:
        from tracing import dir_bytes

        files, size = dir_bytes(self.catalog.table_dir(self.table))
        rt_files, rt_size = dir_bytes(self.catalog.rt_dir(self.table))
        return files + rt_files, size + rt_size

    def close(self) -> None:
        if self.stream is not None:
            self.stream.stop()


# --------------------------------------------------------------- dedup


VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def gen_corpus(seed: int, root: str) -> None:
    """documents and embeddings with the shape of the test tables:
    10-100 tokens from a 30-word vocabulary, 5% of the documents a copy
    of another one plus the token "dup", source = src<doc_id mod 20>;
    unit vectors around ten weak label centroids."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in rng.integers(10, 101, DOCS)]
    for i in np.flatnonzero(rng.random(DOCS) < 0.05):
        texts[i] = texts[rng.integers(0, DOCS)] + " dup"
    ids = np.arange(DOCS)
    pq.write_table(
        pa.table(
            {
                "doc_id": ids,
                "text": texts,
                "lang": rng.choice(LANGS, DOCS, p=LANG_P),
                "source": [f"src{i % 20}" for i in ids],
                "n_chars": [len(t) for t in texts],
            }
        ),
        os.path.join(root, "documents.parquet"),
    )
    labels = rng.integers(0, 10, VECTORS).astype(np.int32)
    centroids = rng.normal(0, 0.6 / math.sqrt(DIM), (10, DIM))
    x = centroids[labels] + rng.normal(0, 1 / math.sqrt(DIM), (VECTORS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(VECTORS),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
                "label": labels,
            }
        ),
        os.path.join(root, "embeddings.parquet"),
    )


class Dedup(Workload):
    """The dedup pass: the corpus is loaded through write_segments, one
    segment per table, then each op runs one `operators.QUERIES` row and
    counts it. A cycle is one pass over DEDUP_ROWS."""

    cycle_ops = len(DEDUP_ROWS)
    warmup_ops = len(DEDUP_ROWS)

    def __init__(self, run) -> None:
        super().__init__(run)
        self.raw = os.path.join(run.root, "raw")
        os.makedirs(self.raw)
        gen_corpus(run.seed, self.raw)
        self.rows_offered = DOCS + VECTORS
        self.data = None
        self.next_row = 0
        self.counts: list[tuple[str, int]] = []
        self.results: dict[str, list] = {}

    def setup(self, i: int) -> None:
        from indexr_spark.sources.segments import write_segments

        spark = self.run.spark
        if self.data is not None:
            shutil.rmtree(self.data)
        data = os.path.join(self.run.root, f"corpus{i}")

        def load():
            for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
                write_segments(
                    spark.read.parquet(os.path.join(self.raw, f"{name}.parquet")),
                    os.path.join(data, f"{name}.parquet"),
                    sort_by=[key],
                    num_segments=1,
                )

        self.timed_load(load, DOCS + VECTORS)
        self.data = data

    def op(self):
        name = DEDUP_ROWS[self.next_row % len(DEDUP_ROWS)]
        self.next_row += 1
        return "query", lambda: self._row(name)

    def _row(self, name: str) -> int:
        """Build the row and count it. The first pass, the warm-up,
        collects instead, for the oracle check after the run; later
        passes must count the same rows."""
        from indexr_spark import operators

        t0 = time.time()
        df = operators.QUERIES[name](self.run.spark, self.data)
        t1 = time.time()
        if name not in self.results:
            self.results[name] = [tuple(r) for r in df.collect()]
            return len(self.results[name])
        n = df.count()
        self.run.note(row=name, build_s=t1 - t0, build_end=t1, end=time.time())
        self.run.note(pinned_mb=self.pinned_mb())
        self.counts.append((name, n))
        return n

    def pinned_mb(self) -> float:
        """Storage memory the session holds for pinned and checkpointed
        RDDs."""
        infos = self.run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def verify(self, corrupt: bool) -> tuple[int, int]:
        import duckdb

        from indexr_spark import operators

        con = duckdb.connect()
        for name in ("documents", "embeddings"):
            glob = os.path.join(self.data, f"{name}.parquet", "part-*.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        wrong = 0
        for i, name in enumerate(DEDUP_ROWS):
            rows = self.results[name]
            if corrupt and i == 0:
                rows = rows[:-1] + [("corrupted",)]
            wrong += not same_rows(rows, con.execute(operators.ORACLE[name]).fetchall())
        con.close()
        # every timed pass must return the checked row count
        wrong += sum(n != len(self.results[name]) for name, n in self.counts)
        return len(DEDUP_ROWS) + len(self.counts), wrong

    def storage(self) -> tuple[int, int]:
        from tracing import dir_bytes

        return dir_bytes(self.data)


def _parquet_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def raw_event_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_date", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("uid", T.LongType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
        ]
    )


# -------------------------------------------------------------- checks


def _canon(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _key(row):
    return tuple((x is None, type(x).__name__, x if x is not None else 0) for x in row)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row comparison; numbers equal to 1e-9."""
    if len(got) != len(want):
        return False
    g = sorted((tuple(map(_canon, r)) for r in got), key=_key)
    w = sorted((tuple(map(_canon, r)) for r in want), key=_key)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
