"""sparkdex benchmark: seeded closed-loop workloads against the public
API of `indexr_spark`, with an untraced run for the end-to-end metrics
and a traced run for the per-layer ones.

    python3 perfbench/run.py --workload olap_selective --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (spans go to perfbench/out/). All work
files live in a temporary directory under perfbench/ that is removed
at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("olap_selective", "hybrid_ingest")
DRIVER_MEMORY = "3g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt", type=int, choices=(0, 1), default=0,
        help="self-test: falsify one checked result; the run must then report it",
    )
    return p.parse_args(argv)


class Run:
    """One benchmark process: the session, the tracer, and the timed
    operation log of a closed-loop client."""

    def __init__(self, args, root: str, spark, tracer) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.root = root
        self.spark = spark
        self.tracer = tracer
        self._notes: dict = {}

    def note(self, **kw) -> None:
        """Attach facts to the current op; `start`/`end` override the
        op's clock where the op does untimed generator work."""
        self._notes.update(kw)

    @contextlib.contextmanager
    def untraced(self):
        """Benchmark-side work inside an op (result checks) records no
        spans."""
        was, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = was

    def timed(self, kind: str, fn, tag: str | None = None) -> dict:
        """Run one op. Its clock is the call, unless the op narrows it
        with `start`/`end` notes; the rest of the call is the client's
        own untimed work (generating inputs, checking results)."""
        self._notes = {}
        if tag is not None:
            self.spark.sparkContext.setJobGroup(tag, kind)
            self.tracer.op_id = tag
        start = time.time()
        ok = True
        try:
            fn()
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        end = time.time()
        op = {"kind": kind, "tag": tag, "start": start, "end": end, "ok": ok, "call": (start, end)}
        op.update(self._notes)
        op["ms"] = (op["end"] - op["start"]) * 1000.0
        op["client_s"] = (end - start) - (op["end"] - op["start"])
        return op

    def window(self, wl, seconds: float, cycles: int, trace: bool = False) -> list[dict]:
        """Closed loop for at least `seconds` and `cycles` whole cycles,
        then on to a whole number of cycles, so every window times the
        same op mix. With `trace`, blocks of one cycle alternate
        untraced and traced, so both halves see the same warm-up drift
        and op mix."""
        ops: list[dict] = []
        wl.start_window()
        deadline = time.time() + seconds
        n = cycles * wl.cycle_ops
        while time.time() < deadline or len(ops) < n or len(ops) % wl.cycle_ops:
            kind, fn = wl.op()
            cycle = len(ops) // wl.cycle_ops
            traced = trace and cycle % 2 == 1
            self.tracer.enabled = traced
            tag = f"{self.workload}:{kind}#{len(ops)}" if trace else None
            ops.append({**self.timed(kind, fn, tag), "traced": traced, "cycle": cycle})
        self.tracer.enabled = False
        self.tracer.op_id = None
        return ops


def workspace() -> str:
    """Fresh temp root inside the checkout; Spark's local dirs, the JVM
    temp dir, the warehouse and every table live under it."""
    root = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    for d in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(root, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = os.path.join(root, "tmp")
    os.chdir(root)
    return root


def start_spark(args, root: str):
    from indexr_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # no hsperfdata file under the system /tmp: the run writes only
        # inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if args.trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(root, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cpus=len(os.sched_getaffinity(0)),
        driver_memory=DRIVER_MEMORY,
        extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def env_info() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def run(args, root: str) -> dict:
    import tracing
    import workloads as W

    tracer = tracing.Tracer()
    t_start = time.time()
    spark = start_spark(args, root)
    bench = Run(args, root, spark, tracer)
    try:
        if args.workload == "hybrid_ingest":
            wl = W.Hybrid(bench)
        else:
            wl = W.Olap(bench)
        if args.trace:
            tracer.install()
            tracer.enabled = True
        phases = {"spark_start": time.time() - t_start}
        setups = []
        for i in range(W.SETUPS):
            t0 = time.time()
            wl.setup(i)
            setups.append(time.time() - t0)
        tracer.enabled = False
        phases["setups"] = sum(setups)
        t0 = time.time()
        warm = [bench.timed(*wl.op()) for _ in range(wl.warmup_ops)]
        phases["warmup"] = time.time() - t0
        t0 = time.time()
        if args.trace:
            ops = bench.window(wl, args.seconds, wl.min_cycles, trace=True)
            plain = [o for o in ops if not o["traced"]]
            timed = [o for o in ops if o["traced"]]
        else:
            plain, timed = [], bench.window(wl, args.seconds, wl.min_cycles)
        phases["window"] = time.time() - t0
        t0 = time.time()
        wl.finish()
        live_files = wl.live_files()
        wl.close()
        files, size = wl.storage()
        phases["finish"] = time.time() - t0
        dedup, dedup_ops = None, []
        if args.trace and args.workload == "hybrid_ingest":
            t0 = time.time()
            dedup = W.Dedup(bench)
            dedup_ops = operators_pass(bench, dedup)
            phases["operators"] = time.time() - t0
        rss = tracing.jvm_peak_rss_mb(spark) if args.trace else 0.0
    finally:
        tracer.uninstall()
        t0 = time.time()
        stop_spark(spark)
    phases["stop"] = time.time() - t0
    t0 = time.time()
    checks, wrong = wl.verify(corrupt=bool(args.corrupt))
    if dedup is not None:
        c, w = dedup.verify(corrupt=False)
        checks, wrong = checks + c, wrong + w
    phases["verify"] = time.time() - t0
    ops = warm + plain + timed + dedup_ops
    failed = sum(not o["ok"] for o in ops) + wrong
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env_info(),
        "ops": {k: sum(o["kind"] == k for o in timed) for k in ("query", "ingest", "compact")},
        "cycles": len({o["cycle"] for o in timed}),
        "checks": checks,
        "wrong": wrong,
        "setups_s": setups,
        "phases_s": phases,
    }
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        span_path = os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json")
        tracer.write(span_path)
        info["spans"] = os.path.relpath(span_path, CHECKOUT)
        logs = os.listdir(os.path.join(root, "events"))
        jobs = tracing.parse_event_log(os.path.join(root, "events", logs[0]))
        metrics = layer_metrics(
            tracer.spans, plain, timed, dedup_ops, jobs, live_files, files, size, rss
        )
    else:
        metrics = end_to_end(wl, setups, timed, size)
    print(json.dumps(info), flush=True)
    return {
        "correct": failed == 0,
        "attempted": len(ops) + checks,
        "failed": failed,
        "metrics": metrics,
    }


def operators_pass(bench: Run, dedup) -> list[dict]:
    """The operators layer rides on hybrid_ingest's traced run: the
    corpus is loaded, one untraced warm-up pass collects every row for
    the oracle check, then one traced pass builds and counts each row."""
    bench.tracer.enabled = False
    dedup.setup(0)
    for _ in range(dedup.warmup_ops):
        bench.timed(*dedup.op())
    ops = []
    for i in range(dedup.cycle_ops):
        kind, fn = dedup.op()
        bench.tracer.enabled = True
        ops.append(bench.timed(kind, fn, f"dedup_ops:{kind}#{i}"))
    bench.tracer.enabled = False
    bench.tracer.op_id = None
    return ops


def _ok(ops: list[dict], kind: str) -> list[dict]:
    return [o for o in ops if o["kind"] == kind and o["ok"]]


def cycle_walls(ops: list[dict]) -> list[float]:
    """Wall time of each whole cycle, without the client's untimed work."""
    by: dict[int, list[dict]] = defaultdict(list)
    for o in ops:
        by[o["cycle"]].append(o)
    return [
        max(o["call"][1] for o in c) - min(o["call"][0] for o in c) - sum(o["client_s"] for o in c)
        for c in by.values()
    ]


def end_to_end(wl, setups: list[float], ops: list[dict], size: int) -> dict:
    """Every metric on every workload. Workloads that load their data
    in bulk (olap_*) take the ingest metrics from the timed loads of
    their set-ups; hybrid_ingest from its streamed batches."""
    q = [o["ms"] for o in _ok(ops, "query")]
    streamed = _ok(ops, "ingest")
    if streamed:
        ingest_ms = [o["ms"] for o in streamed]
        rows_per_s = sum(o["rows"] for o in streamed) / sum(cycle_walls(ops))
    else:
        ingest_ms = [s * 1000.0 for s, _ in wl.loads]
        rows_per_s = statistics.median(r / s for s, r in wl.loads)
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "query_p50_ms": (statistics.median(q), "ms"),
        "ingest_p50_ms": (statistics.median(ingest_ms), "ms"),
        "ingest_rows_per_s": (rows_per_s, "rows/s"),
        "stored_bytes_per_row": (size / wl.rows_offered, "B/row"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_metrics(spans, plain, ops, dedup_ops, jobs, live_files, files, size, rss) -> dict:
    import tracing

    selfs = tracing.self_times(spans)
    by: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        by[s["name"]].append(i)

    def dur(i: int) -> float:
        return (spans[i]["end"] - spans[i]["start"]) * 1000.0

    def win(name: str) -> list[int]:
        return [i for i in by[name] if spans[i]["op"] is not None]

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    # catalog: view work is registration plus the pruned-view swap and
    # restore, i.e. the read/read_hybrid calls made directly by sql()
    sql = win("catalog.sql")
    direct_views = {
        i
        for i, s in enumerate(spans)
        if s["name"] in ("catalog.read_hybrid", "catalog.read")
        and s["parent"] is not None
        and spans[s["parent"]]["name"] == "catalog.sql"
    }
    builds = [
        i
        for i, s in enumerate(spans)
        if s["op"] is not None
        and (
            s["name"] == "catalog.read_hybrid"
            or (
                s["name"] == "catalog.read"
                and (s["parent"] is None or spans[s["parent"]]["name"] != "catalog.read_hybrid")
            )
        )
    ]
    views_ms = sum(dur(i) for i in win("catalog.register_sql_views")) + sum(
        dur(i) for i in direct_views
    )
    replanned = {spans[i]["parent"] for i in direct_views}
    walks = win("catalyst_filter.relation_filters")
    rc = win("rough_check.prune")
    considered = sum(spans[i]["considered"] for i in rc)
    kept = sum(spans[i]["kept"] for i in rc)
    setup_of = lambda name: [i for i in by[name] if spans[i]["op"] is None]  # noqa: E731

    queries = _ok(ops, "query")
    ingests = _ok(ops, "ingest")
    compacts = _ok(ops, "compact")
    progress = [p for o in ingests for p in o.get("progress", [])]
    rows_in = sum(p["numInputRows"] for p in progress)
    rows_out = sum(p["rowsOut"] for p in progress)
    op_builds = win("operators.build")
    build_jobs = sum(
        1
        for j in jobs.values()
        for i in op_builds
        if spans[i]["start"] <= j["time"] <= spans[i]["end"]
    )

    per_op: dict[str, float] = defaultdict(float)
    for op_jobs in tracing.attribute_jobs(jobs, ops).values():
        for j in op_jobs:
            per_op["jobs"] += 1
            for k in ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
                      "input_records", "shuffle_write_bytes", "spill_bytes"):
                per_op[k] += j[k]
    n_ops = len(ops)
    plain_q = [o["ms"] for o in _ok(plain, "query")]
    traced_q = [o["ms"] for o in queries]

    m = {
        "catalog.sql_ms": (mean(dur(i) for i in sql), "ms"),
        "catalog.views_ms": (ratio(views_ms, len(sql)), "ms"),
        "catalog.view_builds": (ratio(len(builds), len(sql)), "count"),
        "catalog.replans": (ratio(len(replanned), len(sql)), "ratio"),
        "catalog.prune_ms": (mean(dur(i) for i in win("catalog.prune")), "ms"),
        "catalyst_filter.walk_ms": (mean(dur(i) for i in walks), "ms"),
        "catalyst_filter.unknown_ratio": (
            ratio(sum(spans[i]["unknown"] for i in walks), sum(spans[i]["scans"] for i in walks)),
            "ratio",
        ),
        "rough_check.prune_ms": (mean(dur(i) for i in rc), "ms"),
        "rough_check.files_considered": (ratio(considered, len(rc)), "count"),
        "rough_check.files_kept": (ratio(kept, len(rc)), "count"),
        "rough_check.kept_ratio": (ratio(kept, considered), "ratio"),
        "rough_check.files_all_match": (mean(spans[i]["all_match"] for i in rc), "count"),
        "segments.load_sidecar_ms": (mean(dur(i) for i in win("segments.load_sidecar")), "ms"),
        "segments.sidecar_loads": (
            ratio(len(win("segments.load_sidecar")), len(win("catalog.prune"))), "ratio"
        ),
        "segments.write_ms": (mean(dur(i) for i in setup_of("segments.write_segments")), "ms"),
        "segments.index_build_ms": (
            mean(dur(i) for i in setup_of("segments.build_indexes")), "ms"
        ),
        "segments.write_sidecar_ms": (mean(dur(i) for i in by["segments.write_sidecar"]), "ms"),
        "segments.table_files": (files, "count"),
        "segments.table_bytes": (size, "B"),
        "snapshots.commit_ms": (mean(selfs[i] * 1000.0 for i in win("snapshots.append_snapshot")), "ms"),
        "snapshots.live_files": (live_files, "count"),
        "snapshots.read_ms": (mean(dur(i) for i in win("snapshots.read_snapshot")), "ms"),
        "ingest.add_batch_ms": (mean(p["durationMs"].get("addBatch", 0) for p in progress), "ms"),
        "ingest.planning_ms": (mean(p["durationMs"].get("queryPlanning", 0) for p in progress), "ms"),
        "ingest.wal_commit_ms": (mean(p["durationMs"].get("walCommit", 0) for p in progress), "ms"),
        "ingest.rows_in": (ratio(rows_in, len(progress)), "rows"),
        "ingest.rows_out": (ratio(rows_out, len(progress)), "rows"),
        "ingest.rollup_ratio": (ratio(rows_out, rows_in), "ratio"),
        "ingest.rt_batches_pending": (mean(o.get("rt_pending", 0) for o in queries), "count"),
        "ingest.compact_ms": (mean(o["ms"] for o in compacts), "ms"),
        "ingest.compact_rows_moved": (mean(o.get("rows_moved", 0) for o in compacts), "rows"),
        "exec.collect_ms": (mean(o["collect_s"] * 1000.0 for o in queries), "ms"),
        "exec.jobs": (ratio(per_op["jobs"], n_ops), "count"),
        "exec.stages": (ratio(per_op["stages"], n_ops), "count"),
        "exec.tasks": (ratio(per_op["tasks"], n_ops), "count"),
        "exec.run_ms": (ratio(per_op["run_ms"], n_ops), "ms"),
        "exec.cpu_ms": (ratio(per_op["cpu_ms"], n_ops), "ms"),
        "exec.gc_ms": (ratio(per_op["gc_ms"], n_ops), "ms"),
        "exec.input_bytes": (ratio(per_op["input_bytes"], n_ops), "B"),
        "exec.input_records": (ratio(per_op["input_records"], n_ops), "rows"),
        "exec.shuffle_write_bytes": (ratio(per_op["shuffle_write_bytes"], n_ops), "B"),
        "exec.spill_bytes": (ratio(per_op["spill_bytes"], n_ops), "B"),
        "operators.build_ms": (mean(dur(i) for i in op_builds), "ms"),
        "operators.build_jobs": (ratio(build_jobs, len(op_builds)), "count"),
        "operators.pinned_mb": (mean(o["pinned_mb"] for o in _ok(dedup_ops, "query")), "MB"),
        "operators.pass_s": (sum(o["ms"] for o in dedup_ops) / 1000.0, "s"),
        "operators.jvm_peak_rss_mb": (rss, "MB"),
        "trace.spans": (len(spans), "count"),
        "trace.overhead_ms": (
            statistics.median(traced_q) - statistics.median(plain_q)
            if traced_q and plain_q
            else 0.0,
            "ms",
        ),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, CHECKOUT)
    import indexr_spark  # noqa: F401  -- fails fast outside a checkout

    root = workspace()
    try:
        result = run(args, root)
    finally:
        os.chdir(CHECKOUT)
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
