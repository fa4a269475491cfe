"""Machine-check for the plan lints' boundedness conventions
(round-11 verdict item 5 + advisor finding).

The window/cross-join lints (plans/lint.py) prove boundedness
structurally and deliberately do NOT bless ``Scan ExistingRDD``
(checkpointed data-scale frames plan as that node too). The residual
convention they lean on is that driver-literal frames are genuinely
driver-sized. These greps pin that convention:

- no ``sparkContext.parallelize`` anywhere in engine code (an RDD
  literal could carry data-scale rows invisibly);
- the set of engine modules calling ``createDataFrame`` is CLOSED —
  a new call site fails here until a human confirms the frame is
  driver-sized (empty-state schema frames, collected model state,
  band/centroid/offset tables) and adds the module below;
- the set of engine modules catching ``AnalysisException`` is CLOSED
  too: state reads go through ``functions/generations.read_state``,
  and only the two index-probe race fences read the error class
  themselves.
"""

from __future__ import annotations

import pathlib

ENGINE = pathlib.Path(__file__).parent.parent / "finance_etl_system_spark"

# Modules with reviewed createDataFrame call sites. Every entry's
# frames are driver-sized by construction: empty typed state frames,
# collected model/centroid/vocab state (O(model)), literal dims, or
# driver-k query sets. New call sites must be reviewed for the same
# property — a data-scale literal frame would plan as Scan
# ExistingRDD and silently evade both plan lints.
_CREATE_DATAFRAME_ALLOWED = {
    "functions/frames.py",      # literal_frame itself (LocalTableScan path)
    "functions/generations.py", # read_state's empty state frame
    "queries/text.py",          # collected driver-side summaries
    "streaming/quality.py",     # per-batch verdict rows (O(rules))
    "streaming/drift.py",       # per-batch histogram counts (O(edges))
    "operators/bpe.py",         # merge table (O(vocab))
    "operators/similarity.py",  # kNN query set (driver-k by contract)
    "operators/textindex.py",   # query-term frames (O(query terms))
    "operators/ann.py",         # recall-report rows (O(methods))
    "operators/unigram.py",     # vocab table (O(vocab))
    "operators/forget.py",      # audit rows (O(artifacts))
    "operators/pq.py",          # codebooks/centroids (k x d model state)
    "sources/export.py",        # shard manifest rows (O(shards))
    "sources/readers.py",       # fallback symbol list (literal)
    "pipeline/corpus.py",       # empty increment-state frames
}


def _engine_files():
    return sorted(ENGINE.rglob("*.py"))


def test_literal_frame_plans_as_local_table_scan(spark):
    """literal_frame exists so driver literals are PROVABLY bounded:
    it must plan LocalTableScan (lint-bounded), where the raw-list
    createDataFrame plans Scan ExistingRDD (no longer blessed)."""
    from pyspark.sql import functions as F

    from finance_etl_system_spark.functions.frames import literal_frame
    from finance_etl_system_spark.plans.lint import unbounded_cross_joins

    lf = literal_frame(
        spark, [("a", 1.0, 2.0), ("b", 2.0, 3.0)], "band string, lo double, hi double"
    )
    assert lf._jdf.queryExecution().sparkPlan().nodeName().startswith(
        "LocalTableScan"
    )
    assert [tuple(r) for r in lf.orderBy("band").collect()] == [
        ("a", 1.0, 2.0), ("b", 2.0, 3.0),
    ]
    # and the cross-join lint accepts a BNLJ whose build side is one
    big = spark.range(100).withColumn("v", F.col("id").cast("double"))
    joined = big.join(
        lf, (big.v >= lf.lo) & (big.v < lf.hi), "inner"
    )
    assert unbounded_cross_joins(joined) == []
    # while the raw-list frame is (correctly) NOT provable
    raw = spark.createDataFrame(
        [("a", 1.0, 2.0)], "band string, lo double, hi double"
    )
    joined_raw = big.join(
        raw, (big.v >= raw.lo) & (big.v < raw.hi), "inner"
    )
    assert unbounded_cross_joins(joined_raw)


def test_no_rdd_parallelize_in_engine():
    hits = [
        str(p.relative_to(ENGINE))
        for p in _engine_files()
        if ".parallelize(" in p.read_text()
    ]
    assert not hits, hits


def test_create_dataframe_call_sites_are_closed():
    using = {
        str(p.relative_to(ENGINE))
        for p in _engine_files()
        if ".createDataFrame(" in p.read_text()
    }
    new_sites = using - _CREATE_DATAFRAME_ALLOWED
    assert not new_sites, (
        "new createDataFrame call site(s) — confirm each frame is "
        f"driver-sized, then extend the allowlist: {sorted(new_sites)}"
    )
    # anti-rot: drop entries whose call sites disappeared
    stale = _CREATE_DATAFRAME_ALLOWED - using
    assert not stale, f"stale allowlist entries: {sorted(stale)}"


# read_state, plus the index store's post-scan check, which reads a
# mid-overwrite meta as a retryable race
_ANALYSIS_EXCEPTION_ALLOWED = {
    "functions/generations.py",
    "operators/ivfstore.py",
}


def test_analysis_exception_catch_sites_are_closed():
    using = {
        str(p.relative_to(ENGINE))
        for p in _engine_files()
        if "except AnalysisException" in p.read_text()
    }
    assert using == _ANALYSIS_EXCEPTION_ALLOWED, (
        "a state read must go through functions/generations.read_state, "
        f"not its own except AnalysisException: {sorted(using)}"
    )
