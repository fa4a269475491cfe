"""Shared error-class extraction for Spark exceptions.

State reads go through ``functions/generations.read_state``, which
absorbs ONLY "no state yet" (a missing path, or a committed directory
with no data file) and raises on anything else; the probe fences in
``operators/pq.py`` and ``operators/similarity.py`` read the error
class to tell a mid-overwrite race from a failure. Spark 4 renamed
``getErrorClass`` to ``getCondition`` and the old name now emits a
FutureWarning per call — this helper prefers the new API and keeps
the engine warning-clean on any driver-provided Spark version
(CLAUDE.md: engine code must run on an arbitrary session).
"""

from __future__ import annotations


def error_condition(e: Exception) -> str | None:
    """The exception's error class/condition name, or None when the
    exception exposes neither accessor."""
    if hasattr(e, "getCondition"):
        return e.getCondition()
    return getattr(e, "getErrorClass", lambda: None)()
