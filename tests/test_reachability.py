"""Dead-code gate: no package definition is reached only by tests.

Runs scripts/audit_reachability.py (stdlib ``ast``, no Spark): every
top-level definition of the package must be reachable from a production
root (run_*.py, __spark_entry__.py and its gate registry, bench.py,
perfbench/, scripts/) or be listed, with a reason, in the script's KEEP,
or be a deferred deletion in its DEFERRED (reported apart, not as zero).
"""

from __future__ import annotations

import importlib.util
import os

_SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts", "audit_reachability.py")


def _audit() -> dict:
    spec = importlib.util.spec_from_file_location("audit_reachability", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.audit()


def test_no_test_only_or_unreferenced_definitions():
    rep = _audit()
    assert rep["audited"] > 0
    assert rep["test_only"] == []
    assert rep["unreferenced"] == []
    assert rep["stale_keep"] == []
