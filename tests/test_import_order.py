"""Every `indexr_spark` module must import cleanly when it is the FIRST
package module a process loads. A module-level import cycle only
breaks for some entry orders (vector_store-first used to die inside
operators/pq.py with a partially initialized module), so each module
is imported from an empty `indexr_spark*` slate in turn."""

from __future__ import annotations

import importlib
import pkgutil
import sys

import pyspark  # noqa: F401  (already loaded, as in any real process)

import indexr_spark


def _package_modules() -> list[str]:
    return sorted(
        m.name
        for m in pkgutil.walk_packages(indexr_spark.__path__, "indexr_spark.")
    )


def test_every_module_imports_first():
    names = _package_modules()
    assert "indexr_spark.sources.vector_store" in names
    saved = {k: v for k, v in sys.modules.items() if k.startswith("indexr_spark")}
    failures = {}
    try:
        for name in names:
            for k in [k for k in sys.modules if k.startswith("indexr_spark")]:
                del sys.modules[k]
            try:
                importlib.import_module(name)
            except Exception as e:  # noqa: BLE001 — report every module
                failures[name] = f"{type(e).__name__}: {e}"
    finally:
        for k in [k for k in sys.modules if k.startswith("indexr_spark")]:
            del sys.modules[k]
        sys.modules.update(saved)
    assert not failures, failures
