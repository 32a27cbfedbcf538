"""Self-test of the benchmark's correctness accounting.

    python3 perfbench/selftest.py

Checks the row comparison on hand-made cases, then runs one short
olap_selective run with one deliberately corrupted result and requires
the run to report it: `failed` above 0 and `correct` false. Exits 0 when
both hold.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import same_rows  # noqa: E402


def check_same_rows() -> None:
    d = dt.date(1995, 3, 1)
    assert same_rows([("A", 1, 2.5)], [("A", 1, 2.5)])
    assert same_rows([("B", 2, 1.0), ("A", 1, 2.5)], [("A", 1, 2.5), ("B", 2, 1.0)])
    assert same_rows([(d, 3)], [(d, 3)])
    assert same_rows([(0.1 + 0.2,)], [(0.3,)])
    assert not same_rows([("A", 1, 2.5)], [("A", 1, 2.6)])
    assert not same_rows([("A", 1)], [("A", 1), ("B", 2)])
    assert not same_rows([("A", 1)], [("corrupted",)])


def check_corrupted_run() -> None:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "olap_selective",
         "--seed", "7", "--seconds", "2", "--trace", "0", "--corrupt", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["failed"] >= 1 and result["correct"] is False, result
    print(f"corrupted run reported: failed={result['failed']} of {result['attempted']}")


if __name__ == "__main__":
    check_same_rows()
    check_corrupted_run()
    print("selftest ok")
