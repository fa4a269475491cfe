"""Streaming ANN index maintenance: continuous embedding ingestion
into a persistent IVF index (operators/similarity.py) — the live end
of build-once/query-many. A model service emits (id, embedding)
records; each micro-batch routes to the index's FROZEN centroids and
lands as its own (batch_id, cluster) partition set.

Effectively-once without any dedup state: the batch body writes with
dynamic partition overwrite keyed by the checkpointed micro-batch id,
so a replayed batch rewrites exactly its own partitions (routing is
deterministic under frozen centroids — a retry touches the same
(batch, cluster) set). This is the same idempotency contract as the
drift monitor's counts log (streaming/drift.py) applied to an index.

Probe-side: ``cosine_topk_ivf_index`` needs no changes — cluster
stays a partition column at the second directory level, so the
literal ``cluster IN (...)`` pruning keeps skipping unprobed
clusters across every batch. Retrain cadence is driven by
``ivf_index_stats`` exactly as for batch appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sinks import file_stream, start_foreach_batch


def _append_batch(append, batch_df: DataFrame, batch_id: int, path: str) -> None:
    """Both kinds' foreachBatch body (see :func:`ivf_append_batch`)."""
    from ..operators.ivfstore import IVF_STREAM_BATCH_BASE

    if batch_df.isEmpty():
        return
    append(batch_df, path, batch_id=IVF_STREAM_BATCH_BASE + int(batch_id))


def ivf_append_batch(batch_df: DataFrame, batch_id: int, *, path: str) -> None:
    """foreachBatch body: one micro-batch into the index. Empty
    batches write nothing (no empty partition dirs).

    Stream batches live in their OWN batch_id namespace,
    ``IVF_STREAM_BATCH_BASE + micro_batch_id``: the earlier +1 shift
    kept the stream off the build's batch 0 but still shared the
    manual-append counter, so a manual ``append_to_ivf_index`` (auto
    max+1) interleaved with an active or resumed stream could reuse
    an id and dynamic-overwrite-DELETE the other writer's vectors in
    every overlapping (batch, cluster) partition. Auto-assignment now
    ignores ids >= the base (operators/ivfstore.py), so the two
    counters can never meet; a replayed micro-batch still rewrites
    exactly its own partitions.

    MIGRATION NOTE (namespace change, one-time): an index whose
    stream checkpoint predates the BASE+id scheme stored micro-batch
    N at batch_id N+1. Resuming such a stream here replays any
    uncommitted batch N to BASE+N while its old copy at N+1 survives
    — duplicate ids (verify_ivf_index flags them) — and the old
    stream batches keep squatting in the manual namespace. Before
    resuming an old checkpoint: drain/stop the stream, run
    ``compact_ivf_index`` (folds every legacy batch into batch 0 and
    vacates the manual range), and verify. New indexes and fresh
    checkpoints are unaffected."""
    from ..operators.similarity import append_to_ivf_index

    _append_batch(append_to_ivf_index, batch_df, batch_id, path)


def ivf_pq_append_batch(
    batch_df: DataFrame, batch_id: int, *, path: str
) -> None:
    """foreachBatch body for the IVF-PQ index (operators/pq.py):
    identical contract to ivf_append_batch — frozen centroids AND
    frozen codebooks, own (BASE+micro_batch, cluster) partitions,
    dynamic overwrite, empty batches write nothing."""
    from ..operators.pq import append_to_ivf_pq_index

    _append_batch(append_to_ivf_pq_index, batch_df, batch_id, path)


def stream_append_ivf_pq(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    *,
    index_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """The stream_append_ivf twin for the IVF-PQ layout: continuous
    embedding ingestion lands as residual PQ codes — the stream pays
    the 16× compression at write time, so the index a probe reads
    stays codes-sized however long the stream runs."""
    return start_foreach_batch(
        file_stream(spark, source_dir, schema, max_files_per_trigger),
        lambda df, bid: ivf_pq_append_batch(df, bid, path=index_path),
        checkpoint_dir,
    )


def stream_append_ivf(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    *,
    index_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Wire a file-source embedding stream (availableNow — the test
    harness path; swap for Kafka in production, the batch body is
    source-agnostic) into the IVF index. Returns the started query.
    ``max_files_per_trigger`` bounds micro-batch size (availableNow
    honors it and drains in several batches)."""
    return start_foreach_batch(
        file_stream(spark, source_dir, schema, max_files_per_trigger),
        lambda df, bid: ivf_append_batch(df, bid, path=index_path),
        checkpoint_dir,
    )
