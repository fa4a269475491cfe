"""Query registry: every implemented operator as a (spark, sf_dir) -> DataFrame.

Each submodule exposes ``QUERIES`` (name -> callable) and ``ORACLE``
(name -> ANSI SQL for the DuckDB oracle). ``all_queries()`` /
``all_oracle_sql()`` merge them for the driver contract in
``__spark_entry__.py``.

Conventions (SURVEY §5, §7):
- alias every computed column identically in Spark and SQL
- round computed floats (2dp money, 6dp ratios) — the rounding policy
  that makes order-insensitive value hashing deterministic across
  engines
- no nondeterministic functions (uuid/rand) in oracle-checked paths
- top-k queries always carry a unique-key tiebreaker
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES: list[str] = [
    "relational",
    "joins",
    "analytics",
    "analytics2",
    "analytics3",
    "analytics4",
    "series",
    "finance",
    "subqueries",
    "aggregates",
    "windows",
    "indicators",
    "streaming_twins",
    "domain",
    "dedup",
    "sampling",
    "similarity",
    "text",
    "quality",
    "sqlapi",
    "graphq",
    "recursive",
    "variantq",
    "udtfq",
    "udafq",
    "hllq",
    "retrieval",
    "anomaly",
    "unsupervised",
    "curation",
    "cdc",
    "layout",
    "ml",
    "expectations",
    "drift",
    "reconcile",
    "governance",
    "substring",
]


def _load() -> tuple[dict[str, QueryFn], dict[str, str]]:
    import importlib

    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(f"{__name__}.{mod_name}")
        for key, fn in getattr(mod, "QUERIES", {}).items():
            if key in queries:
                raise ValueError(f"duplicate query name {key!r} in {mod_name}")
            queries[key] = fn
        for key, sql in getattr(mod, "ORACLE", {}).items():
            oracle[key] = sql
    return queries, oracle


def all_queries() -> dict[str, QueryFn]:
    return _load()[0]


def all_oracle_sql() -> dict[str, str]:
    queries, oracle = _load()
    unknown = set(oracle) - set(queries)
    if unknown:
        raise ValueError(f"oracle entries without queries: {sorted(unknown)}")
    return oracle
