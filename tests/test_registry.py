"""The query registry imports every module it lists and hides none: a
module that fails to import makes ``all_queries()`` raise instead of
silently dropping its queries from the driver contract."""

from __future__ import annotations

import importlib

import pytest

from finance_etl_system_spark import queries


def test_every_listed_module_registers():
    registered = queries.all_queries()
    for name in queries._MODULES:
        mod = importlib.import_module(f"{queries.__name__}.{name}")
        assert mod.QUERIES and set(mod.QUERIES) <= set(registered), name


def test_unimportable_module_raises(monkeypatch):
    monkeypatch.setattr(
        queries, "_MODULES", [*queries._MODULES, "no_such_query_module"]
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_query_module"):
        queries.all_queries()
    with pytest.raises(ModuleNotFoundError, match="no_such_query_module"):
        queries.all_oracle_sql()
