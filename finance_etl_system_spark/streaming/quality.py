"""Continuous data-quality gating: the expectation suite
(queries/expectations.py) run per micro-batch inside the ingest
stream, with quarantine semantics.

The reference publishes every consumed message downstream
(kafka-consumer/consumer.py poll→insert loop, no validation step);
production ingest at 100 TB/day cannot — one malformed upstream drop
poisons every consumer. This operator gates each micro-batch:

- metrics ride ONE aggregate pass over the batch (adding a check adds
  a column to the same HashAggregate, exactly like the batch suite);
- a verdict row per (batch, check) is appended to an audit log —
  driver-sized, |checks| rows per batch;
- batches where every check passes publish to the clean sink
  (keyed dynamic-partition overwrite → effectively-once, same
  contract as stream_ingest); failing batches land in a quarantine
  dir INSTEAD, partitioned by batch_id with dynamic-partition
  overwrite — a batch RETRIED after a mid-batch crash rewrites its
  own partition instead of duplicating rows. (A checkpoint-committed
  batch never replays under availableNow; re-evaluating quarantined
  data after an upstream fix means re-feeding it through a fresh
  stream, not restarting this one.)

The gate decision is a driver-side collect of ONE row per batch — the
only permissible collect size in this engine (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import wire_stream, write_keyed_overwrite
from .sinks import start_foreach_batch, write_batch


def batch_quality_metrics(batch: DataFrame) -> DataFrame:
    """One-pass expectation metrics for an OHLCV batch: long format
    (check_name, metric, passed). Works on any batch frame with
    (symbol, date, close) columns — the streaming gate and the tests
    share it."""
    one = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("close").alias("nn_close"),
        F.countDistinct("symbol", "date").alias("uniq_key"),
        F.sum(F.when(F.col("close") <= 0, 1).otherwise(0)).alias(
            "nonpos_close"
        ),
        F.sum(F.when(F.col("date").rlike(r"^\d{4}-\d{2}-\d{2}$"), 0).otherwise(1)).alias(
            "bad_date"
        ),
    )
    checks = [
        ("completeness_close", F.col("nn_close") / F.col("n"), F.col("nn_close") == F.col("n")),
        ("uniqueness_symbol_date", F.col("uniq_key") / F.col("n"), F.col("uniq_key") == F.col("n")),
        ("positive_close", F.col("nonpos_close").cast("double"), F.col("nonpos_close") == 0),
        ("date_format", F.col("bad_date").cast("double"), F.col("bad_date") == 0),
    ]
    # explode(array(struct...)) melt — a per-check unionAll would
    # recompute the batch aggregate once per check
    structs = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.round(metric, 6).alias("metric"),
            passed.alias("passed"),
        )
        for name, metric, passed in checks
    ]
    return one.select(F.explode(F.array(*structs)).alias("c")).select("c.*")


def gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    clean_dir: str,
    quarantine_dir: str,
    verdict_dir: str,
) -> None:
    """One micro-batch through the gate. Idempotent under retry: the
    verdict and quarantine sinks are partitioned by batch_id and
    written with dynamic-partition overwrite (a re-run of the same
    batch_id rewrites its own partition), and the clean sink is the
    keyed overwrite shared with stream_ingest."""
    batch = batch_df.withColumn("symbol", F.upper("ticker")).persist()
    try:
        if batch.isEmpty():
            return
        rows = batch_quality_metrics(batch).collect()  # |checks| rows
        write_batch(
            batch.sparkSession.createDataFrame(
                rows, "check_name string, metric double, passed boolean"
            ),
            batch_id,
            verdict_dir,
        )
        if all(r.passed for r in rows):
            write_keyed_overwrite(batch, clean_dir)
        else:
            write_batch(batch, batch_id, quarantine_dir)
    finally:
        batch.unpersist()


def stream_quality_gate(
    spark: SparkSession,
    source_dir: str,
    clean_dir: str,
    quarantine_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
):
    """Gated ingest: per micro-batch, publish to ``clean_dir`` only if
    every expectation passes; otherwise divert the whole batch to
    ``quarantine_dir``. Either way write the per-check verdicts to
    ``verdict_dir``. Both side sinks are partitioned by batch_id and
    written with dynamic-partition overwrite, so a batch retried after
    a mid-batch crash is idempotent (it rewrites its own partition).
    Returns the started query."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        gate_batch(batch_df, batch_id, clean_dir, quarantine_dir, verdict_dir)

    return start_foreach_batch(wire_stream(spark, source_dir), fb, checkpoint_dir)
