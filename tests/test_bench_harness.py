"""Bench harness invariants — the parts the round driver depends on.

The driver captures only the TAIL of bench stdout (~2000 chars) and
parses the last JSON line it finds there; rounds 2-3 recorded an
unparseable artifact because the payload line outgrew the window.
These tests pin the compact-line contract and the counter gate.
"""

from __future__ import annotations

import json
import os

import bench
from indexr_spark import operators

SMOKE_SF = os.environ.get("INDEXR_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_headline_names_resolve_and_short_keys_unique():
    """Every headline name must exist in the registry namespace rules
    (family prefix before the first underscore) and shorten to a
    UNIQUE key — a collision would silently merge two queries' times
    in the compact line."""
    shorts = [bench._short(n) for n in bench.HEADLINE]
    assert len(shorts) == len(set(shorts)), "short-key collision"
    assert all("_" in n for n in bench.HEADLINE)
    # and every headline name must exist in the registry — a typo here
    # would otherwise only surface as a KeyError mid-bench-run
    from indexr_spark import operators

    missing = set(bench.HEADLINE) - set(operators.QUERIES)
    assert not missing, missing


def test_compact_line_fits_driver_tail_window():
    """The compact final line must fit the driver's ~2000-char tail
    capture with headroom, even with worst-case 3-digit-seconds
    values. The full-name form measurably does NOT fit (that is why
    the compact line exists) — guard the contract, not the accident."""
    timings = {n: 999.999 for n in bench.HEADLINE}
    compact = json.dumps(
        {
            "metric": "headline_query_wall_time",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": {bench._short(n): t for n, t in timings.items()},
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(compact) < 1800, len(compact)


def test_counter_regressions_flags_growth_only():
    """Equal counts pass, one more job or one more stage is flagged,
    fewer is not, tasks are not gated, and a row without a baseline
    entry is not judged."""
    base = {
        "q01_x": {"jobs": 3, "stages": 6},
        "q02_y": {"jobs": 4, "stages": 7},
        "d07_z": {"jobs": 13, "stages": 21},
        "s06_w": {"jobs": 5, "stages": 9},
    }
    now = {
        "q01_x": {"jobs": 3, "stages": 6, "tasks": 999},
        "q02_y": {"jobs": 5, "stages": 7, "tasks": 4},
        "d07_z": {"jobs": 13, "stages": 22, "tasks": 22},
        "s06_w": {"jobs": 4, "stages": 8, "tasks": 9},
        "q99_new": {"jobs": 50, "stages": 90, "tasks": 1},
    }
    assert bench.counter_regressions(now, base) == {
        "q02_y": {"baseline": base["q02_y"], "now": {"jobs": 5, "stages": 7}},
        "d07_z": {"baseline": base["d07_z"], "now": {"jobs": 13, "stages": 22}},
    }


def test_injected_shuffle_is_flagged(spark, monkeypatch):
    """Two real rows through bench's counting path: after one gains an
    extra shuffle, the gate flags that row and only that row."""
    rows = ["q01_pricing_summary", "q12_rollup"]
    base = {n: bench.measure(spark, n, SMOKE_SF)[1] for n in rows}
    query = operators.QUERIES["q12_rollup"]
    monkeypatch.setitem(
        operators.QUERIES, "q12_rollup", lambda s, d: query(s, d).repartition(3)
    )
    now = {n: bench.measure(spark, n, SMOKE_SF)[1] for n in rows}
    assert set(bench.counter_regressions(now, base)) == {"q12_rollup"}
