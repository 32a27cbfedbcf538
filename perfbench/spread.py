"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload hybrid_ingest --seeds 1 2 3 4 5

Runs perfbench/run.py once per seed, one run at a time, and prints per
metric the median and the spread: the distance between the first and
third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median, next to the bound BENCHMARK.json fixes. Raw results are kept in
perfbench/out/spread-<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            spec["command"]
            + ["--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
        )
        wall = time.time() - t0
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        result["wall_s"] = wall
        runs.append(result)
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} {vals}", flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"spread-{args.workload}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{name:24s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds.get(name)}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
