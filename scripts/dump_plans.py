#!/usr/bin/env python
"""Dump .explain("formatted") for headline queries into plans/<round>/.

Usage:
    python scripts/dump_plans.py <round> before [q1,q2,...]
    python scripts/dump_plans.py <round> after  [q1,q2,...]

e.g. `python scripts/dump_plans.py r14 before`. Writes
plans/<round>/<query>_<tag>.txt for every requested query (defaults
to the full bench HEADLINE list). Plans are captured at sf0.001 (plan
shape is SF-invariant; the same convention as explain_snapshots.py)
with volatile path/plan-id details left in place — these files are a
per-round evidence trail, not a normalized diff corpus.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

import bench  # noqa: E402
from indexr_spark import operators  # noqa: E402
from indexr_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = (
        sys.argv[3].split(",") if len(sys.argv) > 3 else list(bench.HEADLINE)
    )
    unknown = [n for n in names if n not in operators.QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    out = _REPO / "plans" / rnd
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        app_name=f"dump-plans-{rnd}",
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    for name in names:
        df = operators.QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out / f"{name}_{tag}.txt").write_text(buf.getvalue())
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
