"""Continuous drift monitoring: PSI per micro-batch against a frozen
reference grid — the streaming sibling of queries/drift.py (batch
asks "has this snapshot shifted"; this watches the LIVE feed and
answers per micro-batch AND cumulatively, the ml-ops loop the
reference runs hourly from a scheduler — ml-service/ml_scheduler.py
monitor job — expressed as a stream instead of a poll).

Design (all shapes proven by the batch drift family):

- the reference edges are derived ONCE, offline, from the training
  snapshot (exact percentile at fixture scale, the mergeable tick
  histogram at 100 TB — drift_psi_histogram's path) and passed in as
  a plain list: the monitor never rescans the reference;
- each micro-batch pays ONE map-side-combinable bucket-count
  aggregate (bucket = count of edges below the value — same literal
  broadcast-comparison as drift_psi), appended to a counts log
  partitioned by batch_id with dynamic-partition overwrite, so a
  retried batch rewrites its own partition (effectively-once, the
  streaming/quality.py contract);
- per-batch PSI and CUMULATIVE PSI (all batches so far vs the
  reference) are recomputed from the counts log — ≤ batches×buckets
  rows, aggregate-sized — and written to a verdict log the same
  idempotent way. Counts merge by addition, so the cumulative PSI is
  exactly the batch PSI of the concatenated stream (tested).

State is the counts log itself: no driver-held state, no growth in
executor memory; a monitor restart resumes from the checkpoint and
the log. Alarm rule: psi > 0.2 (the canonical action threshold).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.generations import read_state
from .sinks import file_stream, start_foreach_batch, write_batch

PSI_ALARM = 0.2

_COUNTS_SCHEMA = "bucket int, n bigint, batch_id long"


def bucketize_counts(batch: DataFrame, value_col: str, edges: list[float]) -> DataFrame:
    """(bucket, n) for one frame: bucket = 1 + #edges strictly below
    the value — identical semantics to drift_psi's edge assignment,
    via the shared O(log n) bisect tree (queries/drift.py) over the
    frozen literal grid."""
    from ..queries.drift import bisect_bucket

    b = batch.filter(F.col(value_col).isNotNull()).select(
        bisect_bucket(value_col, [float(x) for x in edges]).alias(
            "bucket"
        )
    )
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


def psi_from_counts(
    counts: dict[int, int], ref_fracs: dict[int, float]
) -> float:
    """Σ (q_i − p_i)·ln(q_i/p_i) over buckets present in both (the
    drift_psi contribution rule); pure python over grid-sized dicts."""
    total = sum(counts.values())
    if total == 0:
        return 0.0
    psi = 0.0
    for bucket, p in ref_fracs.items():
        q = counts.get(bucket, 0) / total
        if p > 0 and q > 0:
            psi += (q - p) * math.log(q / p)
    return psi


def drift_monitor_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    value_col: str,
    edges: list[float],
    ref_fracs: dict[int, float],
    counts_dir: str,
    verdict_dir: str,
) -> None:
    """One micro-batch through the monitor (foreachBatch body).
    Idempotent under same-batch_id retry: both sinks are partitioned
    by batch_id and written with dynamic-partition overwrite.

    An all-NULL (or value-free) batch still writes its verdict row
    (n_batch=0, psi_batch=0, alarm=false) so the verdict log never
    gaps — only the counts log gains no partition (zero counted rows).
    Retry semantics for psi_cum: a retried OLD batch recomputes
    psi_cum over ALL counts-log partitions present at retry time, not
    the prefix up to its batch_id — cumulative PSI is order-free
    (counts merge by addition), so the retried row converges to the
    same value the NEWEST batch would report, which is the monitored
    quantity; per-prefix history is not a goal of this log."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    # ONE grid-sized collect per batch: the collected rows feed BOTH
    # the counts-log write and the per-batch PSI, so the batch is
    # scanned exactly once (write-then-reaggregate would scan twice)
    rows = bucketize_counts(batch_df, value_col, edges).collect()
    batch_counts = {r["bucket"]: r["n"] for r in rows}
    # cumulative side: |batches|×|buckets| rows — grid-sized, read
    # before anything is written (an unreadable log raises with both
    # sinks untouched): the log minus this batch's own partition plus
    # its counts, so a retry does not meet its first attempt. The
    # read is generation-resolved: counts are additive, so a read
    # overlapping a compact_drift_counts fold must not double them.
    cum_counts = dict(batch_counts)
    log = read_state(spark, counts_dir, _COUNTS_SCHEMA).filter(
        F.col("batch_id") != F.lit(int(batch_id))
    )
    for r in log.groupBy("bucket").agg(F.sum("n").alias("n")).collect():
        cum_counts[r["bucket"]] = cum_counts.get(r["bucket"], 0) + r["n"]
    write_batch(
        spark.createDataFrame(list(batch_counts.items()), "bucket int, n bigint"),
        batch_id,
        counts_dir,
    )
    psi_batch = psi_from_counts(batch_counts, ref_fracs)
    psi_cum = psi_from_counts(cum_counts, ref_fracs)
    verdict = spark.createDataFrame(
        [
            (
                int(sum(batch_counts.values())),
                int(sum(cum_counts.values())),
                round(psi_batch, 6),
                round(psi_cum, 6),
                bool(psi_batch > PSI_ALARM),
            )
        ],
        "n_batch long, n_total long, psi_batch double, psi_cum double,"
        " alarm boolean",
    )
    write_batch(verdict, batch_id, verdict_dir)


def reference_grid(
    ref: DataFrame, value_col: str, n_buckets: int = 10
) -> tuple[list[float], dict[int, float]]:
    """Freeze the reference grid: exact-percentile edges plus the
    reference's own bucket fractions. Run OFFLINE on the training
    snapshot (at 100 TB derive the edges from the mergeable tick
    histogram instead — queries/drift.py::_tick_hist_edges)."""
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    edges = ref.agg(
        F.expr(f"percentile({value_col}, array({qs}))").alias("e")
    ).collect()[0]["e"]
    edges = [float(x) for x in edges]
    counts = {
        r["bucket"]: r["n"]
        for r in bucketize_counts(ref, value_col, edges).collect()
    }
    total = sum(counts.values())
    fracs = {b: n / total for b, n in counts.items()}
    return edges, fracs


def stream_drift_monitor(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    *,
    value_col: str,
    edges: list[float],
    ref_fracs: dict[int, float],
    counts_dir: str,
    verdict_dir: str,
    checkpoint_dir: str,
):
    """Wire the monitor to a file-source stream (availableNow — the
    test harness path; swap the source for Kafka in production, the
    batch body is source-agnostic). Returns the started query."""
    return start_foreach_batch(
        file_stream(spark, source_dir, schema),
        lambda df, bid: drift_monitor_batch(
            df,
            bid,
            value_col=value_col,
            edges=edges,
            ref_fracs=ref_fracs,
            counts_dir=counts_dir,
            verdict_dir=verdict_dir,
        ),
        checkpoint_dir,
    )
