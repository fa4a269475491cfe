"""Streaming incremental near-dup dedup: the daily-increment MinHash
operator (operators/dedup.py minhash_dedup_incremental) wired into a
``foreachBatch`` pipeline with the signature table as checkpointed
state — X1 composed with the T2/T3/T7 streaming discipline.

Per micro-batch of documents:

1. the persisted signature STATE (all surviving docs so far) is read
   and eagerly localCheckpoint-ed — the state stand-in for a snapshot
   read (at production scale the state table lives in a format with
   snapshot isolation, e.g. Delta/Iceberg; the checkpoint cuts the
   file lineage so step 4 never reads the directory it writes);
2. the batch is signatured ONCE and checked against state + itself
   (cost O(|batch| + band collisions), independent of corpus size);
3. verdicts land in ``verdict_dir`` partitioned by batch_id with
   dynamic-partition overwrite — a retried batch rewrites its own
   partition, so the sink is effectively-once (same contract as
   streaming/quality.py);
4. ONLY the surviving new signatures append to the state as the
   batch's own partition (same idempotent overwrite) — history rows
   are never rewritten, so per-batch write volume is batch-sized.

Retry convergence: a crashed-then-retried batch re-reads state that
may already contain its own survivors. That is safe by construction —
a replayed id meeting itself in history is discarded (the operator's
id-collision guard), and a dup meeting its canonical via the history
path yields the same (id, dup_of) verdict the intra-batch path gave —
pinned by tests/test_streaming.py replay tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.generations import read_state
from ..functions.sqltext import pin_sql_text_conf
from ..operators.dedup import minhash_dedup_incremental
from .sinks import file_stream, start_foreach_batch, write_batch

_SIG_SCHEMA = "id bigint, sig array<bigint>"


def _load_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The signature table (empty before the first batch)."""
    return read_state(spark, state_dir, _SIG_SCHEMA).select("id", "sig")


def dedup_increment_batch(
    batch_df: DataFrame,
    batch_id: int,
    verdict_dir: str,
    state_dir: str,
    **minhash_kwargs,
) -> None:
    """One micro-batch through the incremental dedup (see module
    docstring). Idempotent under same-batch_id retry."""
    spark = batch_df.sparkSession
    pin_sql_text_conf(spark)
    if batch_df.isEmpty():
        return
    history = _load_state(spark, state_dir).localCheckpoint(eager=True)
    verdicts, _updated, survivors = minhash_dedup_incremental(
        batch_df, history, with_new_survivors=True, **minhash_kwargs
    )
    write_batch(verdicts, batch_id, verdict_dir)
    write_batch(survivors, batch_id, state_dir)


def stream_dedup_incremental(
    spark: SparkSession,
    source_dir: str,
    verdict_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int | None = 1,
    **minhash_kwargs,
):
    """Checkpointed streaming composition: JSON document batches →
    incremental MinHash dedup with persisted signature state. Returns
    the started (availableNow) query.

    ``max_files_per_trigger`` pins the file→batch mapping so reruns
    over the same source replay identical batches (the replay test's
    convergence contract); pass None to let one batch swallow all
    available files — verdict CONTENT still converges, only the
    batch_id partitioning differs.
    """
    docs = file_stream(
        spark, source_dir, "doc_id LONG, text STRING", max_files_per_trigger
    )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        dedup_increment_batch(
            batch_df, batch_id, verdict_dir, state_dir, **minhash_kwargs
        )

    return start_foreach_batch(docs, fb, checkpoint_dir)
