"""The session factory's static sizes: the driver heap follows the host,
and the generated-class cache holds the engine's working set, so a warm
query compiles nothing."""

from __future__ import annotations

import pytest

from finance_etl_system_spark.plans.metrics import codegen_compiles
from finance_etl_system_spark.session import CODEGEN_CACHE_ENTRIES, default_driver_mem
from tests.conftest import SF_SMOKE

GIB_KIB = 1024 * 1024

# perfbench's query_mix: its SQL-engine half, then its curation half
QUERY_MIX = [
    "accuracy_timeseries", "data_expectations", "pricing_summary",
    "window_range_frame", "curriculum_pack", "knn_sq8", "quality_repetition",
    "unigram_surprisal",
]


@pytest.mark.parametrize(
    "mem_total_kib, heap",
    [
        (512 * 1024, "1024m"),  # a quarter is under 1 GiB: the floor
        (4 * GIB_KIB, "1024m"),
        (16_479_424, "4023m"),  # MemTotal of a "16 GB" host
        (64 * GIB_KIB, "16384m"),
        (256 * GIB_KIB, "16384m"),  # the ceiling
    ],
)
def test_default_driver_mem_is_a_quarter_of_ram_clamped(mem_total_kib, heap):
    assert default_driver_mem(mem_total_kib) == heap


def test_warm_query_mix_compiles_nothing(spark):
    """The second pass over query_mix finds every generated class in the
    cache. With Spark's default 100 entries the first pass's ~200
    classes evict each other, and AQE's completion-order stage ids
    change data_expectations' class names from run to run."""
    import __spark_entry__ as entry

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    qs = entry.queries()
    for name in QUERY_MIX:
        qs[name](spark, SF_SMOKE).collect()
    compiled = {}
    for name in QUERY_MIX:
        before = codegen_compiles(spark)
        qs[name](spark, SF_SMOKE).collect()
        compiled[name] = codegen_compiles(spark) - before
    assert compiled == dict.fromkeys(QUERY_MIX, 0)
