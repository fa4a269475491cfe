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
  themselves;
- no ``assert`` in engine code: argument checks raise ``ValueError``
  (an assert vanishes under ``python -O``);
- the per-query ANN rank window and the cosine SQL text live only in
  ``operators/similarity.py``, so every ANN kernel ends in its one
  safe cosine and one rank;
- stream starters (``writeStream``, ``.trigger(``) and batch-keyed
  sinks (``partitionBy("batch_id"``) live only in
  ``streaming/sinks.py``, so every streaming path shares one
  checkpointed starter and one write that owns the zero-row rule.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from finance_etl_system_spark.operators import (
    chunking,
    dedup,
    mining,
    pq,
    similarity,
)

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


def test_no_assert_in_engine():
    hits = [
        f"{p.relative_to(ENGINE)}:{node.lineno}"
        for p in _engine_files()
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not hits, (
        "check caller arguments with a ValueError, not assert (asserts "
        f"vanish under python -O): {hits}"
    )


# the per-query rank window, the safe division and the dot-product
# lambda of the cosine text
_ANN_TAIL_MARKERS = ('partitionBy("qid")', "try_divide(", "-> x * y")


def test_ann_rank_and_cosine_text_are_closed_to_similarity():
    using = {
        str(p.relative_to(ENGINE))
        for p in _engine_files()
        if any(m in p.read_text() for m in _ANN_TAIL_MARKERS)
    }
    assert using == {"operators/similarity.py"}, (
        "ANN kernels rank with similarity.rank_per_query/exact_rerank "
        f"and score with its cosine_score_sql: {sorted(using)}"
    )


# stream starters and batch-keyed sinks: streaming/sinks.py owns them
_STREAM_IO_MARKERS = ("writeStream", ".trigger(", 'partitionBy("batch_id"')
_STREAM_IO_ALLOWED = {
    # the Kafka producer sink: a broker, not a batch-keyed store
    "streaming/ingest.py::stream_to_kafka",
    # the vector index store's fenced (batch_id, cluster) payload write
    "operators/ivfstore.py::_write_payload",
}


def _marker_sites(markers, skip):
    """``file::top-level def`` of every line holding one of ``markers``."""
    sites = set()
    for p in _engine_files():
        rel = str(p.relative_to(ENGINE))
        text = p.read_text()
        if rel == skip or not any(m in text for m in markers):
            continue
        spans = [
            (node.lineno, node.end_lineno, node.name)
            for node in ast.parse(text).body
            if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        ]
        for i, line in enumerate(text.splitlines(), 1):
            if any(m in line for m in markers):
                name = next(
                    (n for a, b, n in spans if a <= i <= b), "<module>"
                )
                sites.add(f"{rel}::{name}")
    return sites


def test_stream_starters_and_batch_sinks_are_closed_to_sinks():
    using = _marker_sites(_STREAM_IO_MARKERS, skip="streaming/sinks.py")
    assert using == _STREAM_IO_ALLOWED, (
        "start streams with streaming/sinks.start_foreach_batch or "
        "start_parquet_append and write batch-keyed sinks with its "
        f"write_batch: {sorted(using - _STREAM_IO_ALLOWED)}; stale "
        f"allowlist entries: {sorted(_STREAM_IO_ALLOWED - using)}"
    )


# one call per engine argument check, each with a bad split or range
_BAD_ARGUMENT_CALLS = {
    "chunking.avg_size_power_of_2": lambda df: (
        chunking.content_defined_chunks(df, avg_size=48)
    ),
    "chunking.size_order": lambda df: chunking.content_defined_chunks(
        df, min_size=128, avg_size=64
    ),
    "dedup.minhash_dedup_incremental": lambda df: (
        dedup.minhash_dedup_incremental(df, df, num_perm=10, bands=3)
    ),
    "dedup.minhash_lsh_pairs": lambda df: dedup.minhash_lsh_pairs(
        df, num_perm=10, bands=3
    ),
    "dedup.minhash_lsh_match": lambda df: dedup.minhash_lsh_match(
        df, df, num_perm=10, bands=3
    ),
    "dedup.lsh_candidate_stats": lambda df: dedup.lsh_candidate_stats(
        df, num_perm=10, bands=3
    ),
    "dedup.embedding_cosine_pairs": lambda df: dedup.embedding_cosine_pairs(
        df, lsh_nbits=10, bands=3, dim=2
    ),
    "mining.mine_triplets": lambda df: mining.mine_triplets(
        df, neg_lo=0.3, neg_hi=0.2
    ),
    "pq.opq_rotation": lambda df: pq.opq_rotation(df, dim=10, m=3),
    "pq.pq_train": lambda df: pq.pq_train(df, dim=10, m=3),
    "similarity.cosine_topk_lsh": lambda df: similarity.cosine_topk_lsh(
        df, df, nbits=10, bands=3, dim=2
    ),
}


@pytest.mark.parametrize("site", sorted(_BAD_ARGUMENT_CALLS))
def test_bad_arguments_raise_value_error(spark, site):
    df = spark.createDataFrame(
        [(1, 1, "a b c", [1.0, 0.0])],
        "doc_id long, vec_id long, text string, embedding array<double>",
    )
    with pytest.raises(ValueError):
        _BAD_ARGUMENT_CALLS[site](df)
