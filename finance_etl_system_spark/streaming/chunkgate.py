"""Streaming CDC chunk-dedup gate: drop documents whose byte share in
already-seen content-defined chunks exceeds a threshold, micro-batch
by micro-batch, with the chunk-hash index as persisted state — the
pipeline/corpus.py stage-1b rule (operators/chunking.py::
chunk_dup_doc_ids) composed with the T2/T3/T7 streaming discipline.

This is the sub-document tier the streaming dedup family lacked:
streaming/dedup.py drops whole near-duplicate DOCUMENTS; this gate
catches a fresh document that merely EMBEDS mostly-seen bytes (quoted
articles, mirrored boilerplate with a new header) — exact and MinHash
dedup both wave those through.

Per micro-batch:

1. the chunk-hash state is read EXCLUDING the current batch_id's own
   partition — a retried batch therefore sees exactly the pre-batch
   state, which is what makes the keep/drop decision replay-stable
   (the state is batch_id-partitioned precisely for this);
2. the batch is chunked ONCE (checkpointed frame feeds the dup test
   and the state update);
3. kept/rejected rows land partitioned by batch_id with dynamic
   partition overwrite (a retry rewrites its own partitions — the
   stream_ingest effectively-once contract);
4. the batch's distinct chunk hashes append as its OWN batch_id
   partition of the state (history partitions are never rewritten,
   so per-batch write volume is batch-sized).

Cross-batch ≡ batch equivalence (pinned in tests): with monotone doc
ids across batches (every batch's ids exceed all earlier ids — the
corpus_increment arrival contract), the streamed keep/drop decisions
equal chunk_dup_doc_ids over the concatenated corpus, because
"hash in an earlier batch" ⇔ "min-id owner is smaller" under that
ordering.

Scale: state is the CDC chunk index — one 32-byte hash per ~avg_size
bytes of corpus text, the standing cost every CDC-dedup system pays;
it is hash-partitionable and only ever probed (left join) and
appended. Per-batch compute is O(batch chunks + one probe of state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.generations import read_state
from ..operators.chunking import chunk_dup_doc_ids, content_defined_chunks
# re-exported: the chunk index compacts through the shared crash-safe
# staged-swap protocol all batch_id-partitioned states use
from .compaction import (  # noqa: F401 — public API of this module
    COMPACTED_BATCH_ID,
    compact_chunk_state,
)
from .sinks import file_stream, start_foreach_batch, write_batch

_STATE_SCHEMA = "chunk_hash string, batch_id int"


def _load_chunk_state(
    spark: SparkSession, state_dir: str, *, exclude_batch_id: int
) -> DataFrame:
    """Chunk hashes from every batch EXCEPT ``exclude_batch_id`` (a
    retried batch must not dedup against its own first attempt)."""
    return (
        read_state(spark, state_dir, _STATE_SCHEMA)
        .filter(F.col("batch_id") != F.lit(int(exclude_batch_id)))
        .select("chunk_hash")
    )


def chunk_gate_batch(
    batch: DataFrame,
    batch_id: int,
    kept_dir: str,
    rejected_dir: str,
    state_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> None:
    """One micro-batch through the chunk gate (module docstring).
    Idempotent under same-batch_id retry: state is read minus this
    batch's own partition, and all three sinks rewrite only their own
    batch_id partitions."""
    spark = batch.sparkSession
    if batch.isEmpty():
        return
    history = _load_chunk_state(
        spark, state_dir, exclude_batch_id=batch_id
    ).localCheckpoint(eager=True)
    batch = batch.localCheckpoint(eager=True)
    chunks = content_defined_chunks(
        batch, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    # checkpoint the decision set too (r12, verdict r11 #6): its plan
    # (owners groupBy + chunk-keyed join) would otherwise re-execute
    # for each of the sink writes below. After the checkpoint the
    # sinks join two in-memory tables.
    dup_ids = chunk_dup_doc_ids(
        batch,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        history_chunks=history,
        chunks=chunks,
    ).localCheckpoint(eager=True)
    write_batch(batch.join(dup_ids, id_col, "left_anti"), batch_id, kept_dir)
    write_batch(
        batch.join(dup_ids, id_col, "left_semi"), batch_id, rejected_dir
    )
    # state grows by ALL of the batch's chunk hashes — rejected docs'
    # chunks included, mirroring the corpus_increment rule (ownership
    # is computed over exact survivors, independent of later drop
    # decisions, which is what keeps the rule order-independent)
    write_batch(
        chunks.select("chunk_hash")
        .distinct()
        .join(history, "chunk_hash", "left_anti"),
        batch_id,
        state_dir,
    )


def stream_chunk_gate(
    spark: SparkSession,
    source_dir: str,
    kept_dir: str,
    rejected_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.6,
    max_files_per_trigger: int | None = 1,
):
    """Checkpointed availableNow stream: JSON document files → CDC
    chunk-dedup gate with persisted chunk-hash state. Returns the
    started query. ``max_files_per_trigger=1`` pins the file→batch
    mapping so reruns replay identical batches (the replay tests'
    convergence contract)."""
    docs = file_stream(
        spark, source_dir, "doc_id LONG, text STRING", max_files_per_trigger
    )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        chunk_gate_batch(
            batch_df,
            batch_id,
            kept_dir,
            rejected_dir,
            state_dir,
            threshold=threshold,
        )

    return start_foreach_batch(docs, fb, checkpoint_dir)
