"""The driver surface of ``__spark_entry__.py``.

The correctness driver checks only the first 50 ``queries()`` keys. The
window must be the 50 oracle-able queries whose latest verdict in
VERIFIED.json is oldest, surfaced as ``q0_`` aliases that
``scripts/emit_verified.py`` maps back to registry names.
"""

from __future__ import annotations

import importlib.util
import json
import os

import __spark_entry__ as entry
from cosmos_xenna_spark.queries import load_registry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _emit_verified():
    spec = importlib.util.spec_from_file_location(
        "emit_verified", os.path.join(_REPO, "scripts", "emit_verified.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_driver_window_is_oldest_verified_first():
    reg = load_registry()
    with open(os.path.join(_REPO, "VERIFIED.json")) as f:
        ledger = json.load(f)["queries"]
    oracled = [name for name, spec in reg.items() if spec.oracle is not None]
    oldest = sorted(oracled, key=lambda n: (ledger[n]["round"] or 0, n))[:50]

    keys = list(entry.queries())
    window = keys[:50]
    assert all(k.startswith("q0_") for k in window), window
    assert not any(k.startswith("q0_") for k in keys[50:])
    assert keys == sorted(keys)
    assert list(entry.oracle_sql())[:50] == window
    assert window == sorted(entry._alias(n) for n in oldest)

    unalias = _emit_verified().unalias
    assert not any(name.startswith("q0_") for name in reg)
    assert sorted(unalias(k, reg) for k in window) == sorted(oldest)
