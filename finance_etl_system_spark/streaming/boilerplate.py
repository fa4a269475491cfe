"""Streaming repeated-substring (boilerplate) detection: the
operators/substring.py kernel wired into a ``foreachBatch`` pipeline
with cumulative gram counts as checkpointed state — X1 composed with
the T2/T3 streaming discipline, the sub-document sibling of
streaming/dedup.py.

State = a batch_id-partitioned gram-count LOG (``_h1, _h2, n``):
each micro-batch appends its OWN count partition (16-byte hash128
keys, never gram text), and the cumulative count is a
merge-by-addition view over the log — the streaming/drift.py counts-
log pattern, so no state row is ever rewritten and per-batch write
volume is batch-sized.

Per micro-batch of documents:

1. shingle the batch once (``gram_keys``, hash128) and checkpoint the
   batch-sized position frame;
2. read the count log EXCLUDING this batch_id's partition (a retried
   batch must not meet its own half-written counts — the partition
   filter makes retry deterministic), merge-by-addition, add the
   in-memory batch counts;
3. flag this batch's positions whose cumulative count reaches
   ``min_count``, merge to maximal spans, and write verdicts
   partitioned by batch_id with dynamic-partition overwrite
   (effectively-once, same contract as streaming/quality.py);
4. append the batch's count partition (same idempotent overwrite).

Arrival-order semantics (documented, tested): a gram first seen in
batch 1 and again in batch 3 goes hot AT batch 3 — batch 3's
occurrence is flagged; batch 1's verdict is NOT retroactively
rewritten (verdicts are as-of-arrival, exactly like incremental
dedup's first-doc-survives). A full-rebuild batch pass over the same
corpus flags the union of all occurrences; the cumulative COUNTS are
identical either way (merge-by-addition ≡ direct count, tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.generations import read_state
from ..functions.sqltext import pin_sql_text_conf
from ..operators.substring import gram_keys, spans_from_flagged
from .sinks import file_stream, start_foreach_batch, write_batch

_COUNT_SCHEMA = "_h1 bigint, _h2 bigint, n bigint, batch_id bigint"


def _load_counts(spark: SparkSession, counts_dir: str) -> DataFrame:
    """The gram-count log (empty before the first batch). The read is
    generation-resolved: the counts are ADDITIVE, so a read
    overlapping a compact_count_log fold must not double-count."""
    return read_state(spark, counts_dir, _COUNT_SCHEMA).select(
        "_h1", "_h2", "n", "batch_id"
    )


def boilerplate_increment_batch(
    batch_df: DataFrame,
    batch_id: int,
    verdict_dir: str,
    counts_dir: str,
    *,
    k: int = 8,
    min_count: int = 2,
) -> None:
    """One micro-batch through the streaming boilerplate detector
    (see module docstring). Idempotent under same-batch_id retry."""
    spark = batch_df.sparkSession
    pin_sql_text_conf(spark)
    if batch_df.isEmpty():
        return
    grams, key_cols = gram_keys(batch_df, k=k, key="hash128")
    grams = grams.localCheckpoint(eager=True)  # batch-sized, used twice
    if grams.isEmpty():
        return  # every doc shorter than k tokens: nothing to count
    batch_counts = grams.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n")
    )
    history = (
        _load_counts(spark, counts_dir)
        # retry guard: never meet this batch's own prior write
        .filter(F.col("batch_id") != batch_id)
        .select(*key_cols, "n")
    )
    cumulative = (
        history.unionByName(batch_counts)
        .groupBy(*key_cols)
        .agg(F.sum("n").alias("n"))
    )
    hot = cumulative.filter(F.col("n") >= min_count).select(*key_cols)
    spans = spans_from_flagged(
        grams.join(hot, key_cols).select("doc_id", "i"), k=k
    )
    write_batch(spans, batch_id, verdict_dir)
    write_batch(batch_counts, batch_id, counts_dir)


def stream_boilerplate(
    spark: SparkSession,
    source_dir: str,
    verdict_dir: str,
    counts_dir: str,
    checkpoint_dir: str,
    *,
    k: int = 8,
    min_count: int = 2,
    max_files_per_trigger: int | None = 1,
):
    """Checkpointed streaming composition: JSON document batches →
    per-batch boilerplate spans against the cumulative gram-count log.
    Returns the started (availableNow) query."""
    docs = file_stream(
        spark, source_dir, "doc_id LONG, text STRING", max_files_per_trigger
    )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        boilerplate_increment_batch(
            batch_df,
            batch_id,
            verdict_dir,
            counts_dir,
            k=k,
            min_count=min_count,
        )

    return start_foreach_batch(docs, fb, checkpoint_dir)
