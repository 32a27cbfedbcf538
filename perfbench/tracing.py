"""Traced-run plumbing: spans around the public layer functions, the
Spark event-log parser, and the per-layer metric roll-up.

Spans are recorded from the benchmark's side only: `install()` swaps
module and class attributes of `indexr_spark` for timing wrappers and
`uninstall()` puts the originals back. Nothing inside the package is
edited. Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

# (module path, attribute path, span name). Callers that import a
# function at module load time hold their own reference, so those
# aliases are listed too (ingest imports write_segments at the top).
TARGETS = [
    ("indexr_spark.sources.catalog", "Catalog.sql", "catalog.sql"),
    ("indexr_spark.sources.catalog", "Catalog.register_sql_views", "catalog.register_sql_views"),
    ("indexr_spark.sources.catalog", "Catalog.read", "catalog.read"),
    ("indexr_spark.sources.catalog", "Catalog.read_hybrid", "catalog.read_hybrid"),
    ("indexr_spark.sources.catalog", "Catalog.prune", "catalog.prune"),
    ("indexr_spark.sources.catalog", "Catalog.build_indexes", "segments.build_indexes"),
    ("indexr_spark.plans.catalyst_filter", "relation_filters", "catalyst_filter.relation_filters"),
    ("indexr_spark.plans.rough_check", "prune", "rough_check.prune"),
    ("indexr_spark.sources.segments", "load_sidecar", "segments.load_sidecar"),
    ("indexr_spark.sources.segments", "write_segments", "segments.write_segments"),
    ("indexr_spark.streaming.ingest", "write_segments", "segments.write_segments"),
    ("indexr_spark.sources.segments", "write_sidecar", "segments.write_sidecar"),
    ("indexr_spark.sources.snapshots", "append_snapshot", "snapshots.append_snapshot"),
    ("indexr_spark.sources.snapshots", "read_snapshot", "snapshots.read_snapshot"),
    ("indexr_spark.streaming.ingest", "compact", "ingest.compact"),
]


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent
    index, op id); parents come from a per-thread stack, so spans that
    Spark's streaming thread causes never nest under the client's."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id = None
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            span = {
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": stack[-1] if stack else None,
                "op": tracer.op_id,
            }
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    span.update(on_result(out))
                return out
            finally:
                stack.pop()
                span["end"] = time.time()

        return traced

    def install(self) -> None:
        import importlib

        from indexr_spark import operators
        from workloads import DEDUP_ROWS

        # "operators.build" is the call that builds a row's DataFrame
        # (and runs its eager pins), not its count
        for row in DEDUP_ROWS:
            orig = operators.QUERIES[row]
            self._saved.append((operators.QUERIES, row, orig))
            operators.QUERIES[row] = self.wrap("operators.build", orig)
        for mod_name, attr, name in TARGETS:
            owner = importlib.import_module(mod_name)
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, parts[-1])
            self._saved.append((owner, parts[-1], orig))
            setattr(owner, parts[-1], self.wrap(name, orig, _RESULT_PROBES.get(name)))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._saved.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _relation_probe(by_path: dict) -> dict:
    from indexr_spark.plans.rough_check import Or, Unknown

    preds = [ops[0] if len(ops) == 1 else Or(tuple(ops)) for ops in by_path.values()]
    return {"scans": len(preds), "unknown": sum(isinstance(p, Unknown) for p in preds)}


def _prune_probe(result) -> dict:
    return {
        "considered": result.n_total,
        "kept": len(result.scan),
        "all_match": len(result.all_match),
    }


_RESULT_PROBES = {
    "catalyst_filter.relation_filters": _relation_probe,
    "rough_check.prune": _prune_probe,
    "ingest.compact": lambda n: {"rows_moved": n},
}


def self_times(spans: list[dict]) -> list[float]:
    """Duration minus the part covered by direct children. Children of
    one span run one after another on its thread, so their durations
    add up without overlap."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]


def parse_event_log(path: str) -> dict[int, dict]:
    """Uncompressed Spark event log → {job id: counters}, one record
    per job with its submission time and job group."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = defaultdict(float)
                jobs[jid]["time"] = ev["Submission Time"] / 1000.0
                jobs[jid]["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                j["gc_ms"] += m.get("JVM GC Time", 0)
                j["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                j["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                j["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return jobs


def attribute_jobs(jobs: dict[int, dict], ops: list[dict]) -> dict[int, list[dict]]:
    """Map jobs to timed operations: by job group `<workload>:<op>#<i>`
    when the client set one, else by submission time inside the op's
    interval (the streaming thread runs its batch jobs under its own
    group while the client waits in processAllAvailable)."""
    out: dict[int, list[dict]] = defaultdict(list)
    by_tag = {op["tag"]: i for i, op in enumerate(ops)}
    for j in jobs.values():
        i = by_tag.get(j["group"])
        if i is None:
            i = next(
                (k for k, op in enumerate(ops) if op["start"] <= j["time"] <= op["end"]),
                None,
            )
        if i is not None:
            out[i].append(j)
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: driver and executors)."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes of every file) under `path`."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet") and not os.path.relpath(root, path).startswith("_")
    return files, size
