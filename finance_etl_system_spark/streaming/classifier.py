"""Streaming classifier-based quality gate: score each document
micro-batch with a FROZEN logistic model (operators/
quality_classifier.py) and route rows to a kept or rejected sink,
with a per-batch audit row.

The production shape: the classifier is a model artifact trained
offline (weights are broadcast-sized — one float per hashed feature);
the stream only does inference, so routing stability across a retrain
is an explicit deploy step, never a mid-stream drift. The reference
publishes every consumed message downstream unconditionally
(`/root/reference/kafka-consumer/consumer.py` poll→insert loop);
this is the gate that pipeline lacks, at the document tier.

Effectively-once: both sinks partition by batch_id and write with
DYNAMIC partition overwrite (conf-scoped), so a batch retried after a
mid-write crash rewrites its own partitions instead of duplicating —
the stream_mixture_budget / stream_ingest contract. The audit is
regenerated from the kept/rejected tables' own rows per batch (an
audit recomputed on replay reports the same numbers — no separate
mutable counter state).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.generations import read_state
from ..operators.quality_classifier import (
    hashed_text_features,
    logreg_score,
)
from .sinks import file_stream, start_foreach_batch, write_batch


def classifier_gate_batch(
    batch: DataFrame,
    batch_id: int,
    weights: np.ndarray,
    kept_dir: str,
    rejected_dir: str,
    *,
    text_col: str = "text",
    n_features: int = 256,
    threshold: float = 0.5,
) -> None:
    """Score one batch and write kept/rejected partitions — shared by
    the stream's foreachBatch and the batch-replay tests. The score
    is rounded to 6dp BEFORE thresholding so the keep decision is
    engine- and replay-deterministic at the boundary. Each document
    is featurized+scored exactly ONCE per batch (the scored frame is
    checkpointed before the two-way split, so the two writes do not
    each re-run the pandas-UDF pipeline)."""
    scored = (
        logreg_score(
            hashed_text_features(
                batch, text_col=text_col, n_features=n_features
            ),
            weights,
        )
        .withColumn("quality_prob", F.round("quality_prob", 6))
        .drop("features")
        .localCheckpoint(eager=True)
    )
    kept = scored.filter(F.col("quality_prob") >= threshold)
    rejected = scored.filter(F.col("quality_prob") < threshold)
    write_batch(kept, batch_id, kept_dir)
    write_batch(rejected, batch_id, rejected_dir)


def stream_classifier_gate(
    spark: SparkSession,
    source_dir: str,
    kept_dir: str,
    rejected_dir: str,
    checkpoint_dir: str,
    weights: np.ndarray,
    *,
    n_features: int = 256,
    threshold: float = 0.5,
    max_files_per_trigger: int | None = 1,
):
    """Checkpointed availableNow stream: JSON document files →
    classifier gate. Returns the started query."""
    docs = file_stream(
        spark, source_dir, "doc_id LONG, text STRING", max_files_per_trigger
    )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        classifier_gate_batch(
            batch_df,
            batch_id,
            weights,
            kept_dir,
            rejected_dir,
            n_features=n_features,
            threshold=threshold,
        )

    return start_foreach_batch(docs, fb, checkpoint_dir)


def classifier_gate_audit(
    spark: SparkSession, kept_dir: str, rejected_dir: str
) -> DataFrame:
    """Per-batch audit recomputed from the sinks' own rows (replay
    reports identical numbers): (batch_id, n_docs, n_kept,
    n_rejected, keep_rate 6dp)."""

    def _side(path: str, name: str) -> DataFrame:
        # an audit that read an unreadable sink as empty would report
        # zero kept rows and look clean exactly when routing is broken
        return (
            read_state(spark, path, "batch_id long")
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias(name))
        )

    k = _side(kept_dir, "n_kept")
    r = _side(rejected_dir, "n_rejected")
    return (
        k.join(r, "batch_id", "full_outer")
        .select(
            "batch_id",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_rejected", F.lit(0)).alias("n_rejected"),
        )
        .withColumn("n_docs", F.col("n_kept") + F.col("n_rejected"))
        .withColumn(
            "keep_rate",
            F.round(F.col("n_kept") / F.col("n_docs"), 6),
        )
        .select("batch_id", "n_docs", "n_kept", "n_rejected", "keep_rate")
        .orderBy("batch_id")
    )
