"""Every function the traced benchmark run wraps still exists.

`perfbench/tracing.py` swaps each `(module, attribute)` in its TARGETS
list for a timing wrapper when a run starts with `--trace 1`; a renamed
or deleted target makes that install raise. The module is loaded by
path, as the benchmark runner loads it, and is not edited."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def test_every_traced_target_resolves():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    assert tracing.TARGETS
    for mod_name, attr, _span in tracing.TARGETS:
        owner = importlib.import_module(mod_name)
        for part in attr.split("."):
            assert hasattr(owner, part), f"{mod_name}.{attr}: no {part!r}"
            owner = getattr(owner, part)
        assert callable(owner), f"{mod_name}.{attr} is not callable"
