"""Tests of the traced run's wrappers.

Run: python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import importlib
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import ENGINE, Timed, Tracer, _operator_imports  # noqa: E402


def test_every_importer_of_an_operator_is_rebound():
    Tracer(enabled=False).instrument()
    qpkg = importlib.import_module(f"{ENGINE}.queries")
    importers: Counter = Counter()
    for mod_name in qpkg._MODULES:
        mod = sys.modules[f"{ENGINE}.queries.{mod_name}"]
        for op_mod, names in _operator_imports(mod):
            target = importlib.import_module(f"{ENGINE}.operators.{op_mod}")
            for n, local in names:
                fn = getattr(target, n)
                if not isinstance(fn, Timed):
                    continue  # a class or a constant, not a traced function
                importers[(op_mod, n)] += 1
                if local in vars(mod):  # imported at module level
                    assert getattr(mod, local) is fn, f"{mod_name}.{local} left unwrapped"
    # the case that needs the rebind: one operator, several query modules
    assert importers[("dedup", "minhash_signatures")] >= 2
    assert importers[("text", "ws_tokens")] >= 2
