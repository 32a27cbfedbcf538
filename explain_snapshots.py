#!/usr/bin/env python
"""Regenerate EXPLAIN.md — formatted physical plans for the most
expensive bench queries, so plan regressions show up as diffs.

Run after any operator/session-conf change that could alter plans:

    python explain_snapshots.py   # rewrites EXPLAIN.md at sf0.001

Plans are captured at sf0.001 (plan *shape* is SF-invariant for these
queries; AQE runtime re-optimization is noted where it applies) with
volatile details (paths, plan ids, statistics) normalized out.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

SNAPSHOT_QUERIES = [
    "s06_ivf_topk",
    "s04_ann_lsh_topk",
    "s02_embedding_pairs",
    "q33_shipping_priority",
    "d07_minhash_lsh",
    "d09_ngram_jaccard",
    "d22_bigram_counts",
    "s11_neardup_numpy",
    "d27_unigram_logprob",
    "d30_pipeline_funnel",
    "d32_simhash_pairs",
    "d33_neardup_incremental",
    "d31_weighted_sample",
    "d34_bpe_merges",
    # r9 additions: the registered BPE encode half and the post-swap
    # sorted-run d16 (REGISTRY.md: a snapshot lands the round a row
    # registers or its executed plan changes — the d31 CSE lesson)
    "d35_bpe_encode",
    "d16_repetition_stats",
    # r10 registrations (same rule: snapshot the round a row lands)
    "d36_redact_pii",
    "d37_tokenizer_fertility",
    # r11 registrations (same rule)
    "d38_bigram_logprob",
    "s13_pq_encode",
    # r12 registrations (same rule — the 5-round streak)
    "d40_dup_spans",
    "d41_quality_classifier",
    # r13 registrations (same rule — streak 6)
    "s14_ivfpq_probe",
    "d42_perplexity_bucket",
]

SF_DIR = "/root/testdata/sf0.001"


def normalize(plan: str) -> str:
    plan = re.sub(r"file:[^\s,\]]+", "file:<path>", plan)
    plan = re.sub(r"#\d+L?", "#N", plan)  # expression ids
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    # RDD ids in checkpoint scan nodes are session-global counters —
    # any upstream job shifts every later id, which would make each
    # regeneration diff all seven snapshots spuriously
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(<elided>)", plan)
    return plan.rstrip()


def main() -> None:
    from contextlib import redirect_stdout
    import io

    from indexr_spark.operators import QUERIES
    from indexr_spark.session import get_spark

    spark = get_spark(app_name="explain-snapshots", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# EXPLAIN snapshots — top bench queries",
        "",
        "Generated by `python explain_snapshots.py` (do not hand-edit).",
        "Formatted physical plans with paths/expression-ids normalized;",
        "diff this file to catch plan regressions (a new Exchange, a",
        "lost PushedFilters, a broadcast that became a shuffle).",
        "",
        "`Scan ExistingRDD` marks a localCheckpoint boundary: the",
        "operator materialized that input once (lineage deliberately",
        "truncated — shared sub-plans built exactly once), so the plan",
        "ABOVE the boundary is the steady-state per-query shape and the",
        "checkpointed sub-plan runs as its own job. The checkpoint",
        "placements themselves are load-bearing (see the operator",
        "docstrings) and a snapshot diff that adds/removes one is a",
        "real plan change.",
        "",
    ]
    def _explained(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return normalize(buf.getvalue())

    for name in SNAPSHOT_QUERIES:
        if name == "d34_bpe_merges":
            # the registry row returns a driver-built merge table (a
            # LocalTableScan — nothing to learn from); the plans that
            # matter are the PER-ROUND internals: the pair-count
            # aggregation and the conditional fold word rewrite.
            from indexr_spark.operators.text import bpe_train
            from indexr_spark.tables import load_table

            captured = []
            docs_df = load_table(spark, SF_DIR, "documents")
            bpe_train(
                docs_df,
                n_merges=1,
                round_plan_hook=lambda pairs, nxt: captured.append(
                    (pairs, nxt)
                ),
            )
            ((pairs, nxt),) = captured
            out += [
                f"## {name} — per-round internals",
                "",
                "One merge round = (a) the adjacent-pair count over the",
                "word table, (b) a 1-row driver argmax, (c) the fold",
                "applied per-row ONLY to words containing the merge pair",
                "(conditional If — the interpreted HOF cost decays with",
                "pair rarity).",
                "",
                "### (a) pair-count aggregation",
                "",
                "```",
                _explained(pairs),
                "```",
                "",
                "### (c) conditional fold (pre-checkpoint)",
                "",
                "```",
                _explained(nxt),
                "```",
                "",
            ]
            continue
        df = QUERIES[name](spark, SF_DIR)
        out += [f"## {name}", "", "```", _explained(df), "```", ""]
    (_REPO / "EXPLAIN.md").write_text("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(SNAPSHOT_QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
