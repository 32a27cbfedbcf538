#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Output contract. Prints the full result as one JSON line, then a
COMPACT final JSON line (same shape, query keys shortened to their
family id — q01, d07, s06, mm01 — values identical):

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01": sec, ...}, "sf": 0.1}

Round records keep only the TAIL of stdout (~2000 chars) and parse
the last JSON line found there. With 90+ queries the full-name line
outgrows that window, so the compact line comes last; the full line
and bench_out.json carry the long form plus the counters and the gate
verdict. Spark's console progress bar is disabled because it shares
stdout with the payload.

Headline set: one representative per operator family (reference-parity
scan/agg/sort, joins, windows, sessionization, dedup/MinHash-LSH,
SimHash, similarity search, Pandas-UDF decode). d09_ngram_jaccard
(LSH-verified exact Jaccard) is in; its all-pairs ground-truth twin
d09b is excluded — the inverted self-join degenerates to ~1e8
intermediate pairs on this corpus's 31-word vocabulary, which is
exactly why the LSH-verified form is the default.
d12_dup_clusters and d20_cluster_keep_best are excluded for the same
single-number reason: both are iterative multi-job algorithms
(connected components), so their wall time is round-count × d07's,
measuring convergence not throughput; correctness is still
oracle-gated at sf0.01. d09r_jaccard_recall embeds d09b, so it is
excluded with it.

Timing = full query wall time (plan + execute + count), after a small
session warm-up, best of 2 runs; a third run is added when the first
two disagree by more than DISPERSION. The first run pays JIT/codegen
compilation that a long-lived cluster amortizes away. Wall time is
reported beside the `_spark_calibration` bracket taken at the start
and end of the run, and is not gated on: shared hosts throttle in
2-6x phases, so a wall-time gate either refuses to judge or judges
the host.

Counter gate. Every run of a row executes under the job group
`bench:<row>#<run>`, and after the run `SparkContext.statusTracker()`
gives its jobs (`getJobIdsForGroup`) and stages (the union of each
job's `stageIds`, skipped stages included). The gate reads run index
1: it always exists, and run 0 pays one-off jobs (q06: 6 jobs on run
0, 4 on run 1). A row is flagged when its jobs or its stages exceed
its entry in bench_baseline.json, `{sf, queries: {row: {jobs,
stages}}}`; a row without an entry, or a baseline taken at another
scale factor, is not judged. The verdict is `pass`, `regressed` or
`no_baseline`. There is no ratio and no calibration.

Tasks are printed but not gated, and bytes are not collected: at
sf0.01 over ten rows (two runs each, three processes at 4, 4 and 2
cores) jobs and stages were identical for every row and run index,
while tasks followed the core count (d07: 68 at 4 cores, 38 at 2) and
differed between two processes at the same count (d07: 66 vs 67).
Adding `.repartition(3)` to q12 took its run-0 counts from 4 jobs /
7 stages to 5 / 11, so one injected shuffle moves both gated numbers.

Refresh the baseline deliberately, after reviewing bench_out.json:

  python -c "import json; o = json.load(open('bench_out.json')); \\
    q = {n: {k: c[k] for k in ('jobs', 'stages')} for n, c in o['counters'].items()}; \\
    json.dump({'sf': o['sf'], 'queries': q}, open('bench_baseline.json', 'w'))"
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from indexr_spark import operators
from indexr_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q02_filter_scan",
    "q04_agg_having_limit_offset",
    "q05_distinct_agg",
    "q06_join_broadcast",
    "q07_multi_join",
    "q08_window_topk",
    "q12_rollup",
    "q15_window_running",
    "q18_sql_embedded",
    "q13_date_agg",
    "q17_union_hybrid",
    "q19_update_column_expr",
    "q20_events_rollup",
    "q21_sessionize",
    "q22_events_hourly",
    "q23_json_props",
    "q25_asof_join",
    "q26_div_zero_compat",
    "q27_salted_agg",
    "q28_cube",
    "q29_anti_join",
    "q30_correlated_avg",
    "q31_outer_join",
    "q32_semi_join",
    "q33_shipping_priority",
    "q34_range_join",
    "q35_moving_avg",
    "q36_latest_per_user",
    "q37_funnel",
    "q38_retention",
    "q41_grouping_sets",
    "q42_window_suite",
    "q43_null_semantics",
    "q44_date_functions",
    "q46_scalar_subquery",
    "s09_quantize_int8",
    "d14_normalize_text",
    "d15_contamination",
    "d16_repetition_stats",
    "d17_doc_chunking",
    "d18_sequence_packing",
    "d19_source_mixture",
    "d21_tfidf_topterms",
    "d22_bigram_counts",
    "d23_ngram_contamination",
    "d24_quality_filter",
    "d25_token_budget_sample",
    "d26_source_regression",
    "q47_moment_stats",
    "s08_hll_sketch_union",
    "s07_exact_percentiles",
    "d01_token_stats",
    "d02_lang_id",
    "d03_quality_score",
    "d04_fingerprint",
    "d05_exact_dedup",
    "d06_canonical_dedup",
    "d07_minhash_lsh",
    "d08_simhash",
    "d09_ngram_jaccard",
    "d10_embedding_neardup",
    "s11_neardup_numpy",
    "d11_bpe_tokens",
    "d13_stratified_sample",
    "d27_unigram_logprob",
    "d28_incremental_dedup",
    "d29_entropy_profile",
    "d30_pipeline_funnel",
    "d31_weighted_sample",
    "d32_simhash_pairs",
    "d33_neardup_incremental",
    "d34_bpe_merges",
    "d35_bpe_encode",
    "d36_redact_pii",
    "d37_tokenizer_fertility",
    "d38_bigram_logprob",
    "d40_dup_spans",
    "d41_quality_classifier",
    "d42_perplexity_bucket",
    "s13_pq_encode",
    "s14_ivfpq_probe",
    "s12_kmeans_step",
    "s01_cosine_topk",
    "s02_embedding_pairs",
    "s04_ann_lsh_topk",
    "s06_ivf_topk",
    "s10_ann_recall",
    "mm01_decode_metadata",
    "mm02_frame_sample",
    "mm03_resize_payload",
    "mm04_feature_extract",
    "mm05_audio_frames",
]

# escalate best-of-2 to best-of-3 when the two samples disagree this much
DISPERSION = 1.5
# the counters the gate compares; tasks are reported only
GATED = ("jobs", "stages")


def _spark_calibration(spark) -> float:
    """Min wall seconds over 3 runs of a fixed small Spark job
    (5M-row shuffled sum): the machine speed during the capture,
    taken through the whole stack (codegen, a 64-task shuffle,
    scheduling) the way the queries experience it. Min of 3 because
    single samples jitter ~2x."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.time()
        spark.range(5_000_000).repartition(64).agg(F.sum("id")).collect()
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def job_counters(st, jobs: list[int]) -> dict[str, int]:
    """Jobs, stages (skipped ones included) and completed tasks of
    `jobs`, read from the status tracker `st`."""
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def run_row(spark, name: str, run: int, sf_dir: str) -> tuple[float, dict[str, int]]:
    """One timed run of headline row `name` under job group
    `bench:<name>#<run>`: (wall seconds, its counters)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = f"bench:{name}#{run}"
    seen = set(st.getJobIdsForGroup(group))  # a row measured again reuses its group
    sc.setJobGroup(group, name)
    try:
        t0 = time.time()
        operators.QUERIES[name](spark, sf_dir).count()
        sec = time.time() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = [j for j in st.getJobIdsForGroup(group) if j not in seen]
    return sec, job_counters(st, jobs)


def measure(spark, name: str, sf_dir: str) -> tuple[float, dict[str, int]]:
    """Best-of-2 wall seconds (best-of-3 past DISPERSION) and the
    counters of run index 1 (run 0 pays one-off jobs)."""
    runs, counts = [], []
    for run in range(2):
        sec, c = run_row(spark, name, run, sf_dir)
        runs.append(sec)
        counts.append(c)
    if max(runs) / max(min(runs), 1e-9) > DISPERSION:
        runs.append(run_row(spark, name, 2, sf_dir)[0])
    return round(min(runs), 3), counts[1]


def counter_regressions(
    counters: dict[str, dict[str, int]],
    baseline: dict[str, dict[str, int]],
) -> dict[str, dict[str, dict[str, int]]]:
    """Rows whose jobs or stages exceed their baseline entry. Rows
    missing from the baseline are not flagged."""
    out = {}
    for name, now in counters.items():
        then = baseline.get(name)
        if then is not None and any(now[k] > then[k] for k in GATED):
            out[name] = {"baseline": then, "now": {k: now[k] for k in GATED}}
    return out


def _load_baseline(sf: float) -> dict[str, dict[str, int]]:
    """bench_baseline.json's rows, or {} when it is missing or was
    taken at another scale factor (plans, and so counts, depend on
    table sizes)."""
    path = _REPO / "bench_baseline.json"
    if not path.exists():
        return {}
    doc = json.loads(path.read_text())
    return doc["queries"] if doc.get("sf") == sf else {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0
    baseline = _load_baseline(sf)
    spark = get_spark(
        app_name="indexr-bench",
        # Long multi-query sessions accumulate broadcast + checkpoint
        # blocks that the ContextCleaner only frees on a driver GC;
        # the default periodic-GC interval (30 min) lets them pile up
        # for the whole run. One minute bounds the pile without
        # measurable per-query cost.
        extra_confs={
            "spark.cleaner.periodicGC.interval": "60s",
            # keep stdout clean for the driver's tail capture
            "spark.ui.showConsoleProgress": "false",
        },
    )

    # Warm up session + parquet footers + the Python worker pool once;
    # not attributed to queries (a long-lived cluster has all three warm).
    spark.range(1000).count()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.range(64).mapInPandas(lambda it: it, "id long").count()
    spark_cal_start = _spark_calibration(spark)  # first of 3 runs doubles as warm-up

    timings: dict[str, float] = {}
    counters: dict[str, dict[str, int]] = {}
    for name in HEADLINE:
        timings[name], counters[name] = measure(spark, name, sf_dir)
        spark.catalog.clearCache()
    spark_cal_end = _spark_calibration(spark)

    regressions = counter_regressions(counters, baseline)
    for name, r in sorted(regressions.items()):
        was, now = r["baseline"], r["now"]
        print(
            f"BENCH REGRESSION {name}: jobs {was['jobs']} -> {now['jobs']}, "
            f"stages {was['stages']} -> {now['stages']}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "spark_cal_start_sec": spark_cal_start,
        "spark_cal_end_sec": spark_cal_end,
        "counters": counters,
        "gate": "no_baseline" if not baseline else "regressed" if regressions else "pass",
        "regressions": regressions,
    }
    compact = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": {_short(n): t for n, t in timings.items()},
        "sf": sf,
    }
    # full form first (humans / logs / file), COMPACT LAST so the
    # driver's 2000-char tail capture always contains one parseable
    # JSON line. bench_out.json carries the full form.
    (_REPO / "bench_out.json").write_text(json.dumps(full) + "\n")
    print(json.dumps(full))
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
