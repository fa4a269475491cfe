"""Temporal (SCD2-aware) stream enrichment: events joined against the
dimension VERSION valid at each event's time — the event-time-correct
lookup a plain stream-static join gets wrong (it always applies the
CURRENT dim row, silently rewriting history on late or replayed
events).

The reference enriches every consumed record against live Mongo state
(kafka-consumer/consumer.py upsert loop) — current-version-only, the
exact bug this operator exists to avoid at 100 TB, where a backfill
replay of last month's events must see last month's dim attributes.

Shapes:

- ``temporal_enrich`` (the batch kernel, shared by tests and the
  stream): events ⋈ broadcast SCD2 dim on
  (key, valid_from <= ts < coalesce(valid_to, ∞)). The dim is
  dimension-sized by contract (its validity intervals per key are
  non-overlapping — SCD2's invariant — so the join multiplies
  nothing). BroadcastHashJoin on the key with the interval conjuncts
  as post-filters: one fact scan, zero shuffle.
- ``stream_enrich_temporal``: foreachBatch wrapper writing enriched
  batches partitioned by batch_id with dynamic-partition overwrite —
  same effectively-once retry contract as every sink in streaming/.
- at dim sizes past the broadcast ceiling the batch kernel swaps for
  the as-of join (operators/joins.py::asof_join on valid_from with a
  validity post-filter) — documented, not defaulted, per SCALE.md's
  broadcast-ceiling note.

Unmatched events (no dim version covers their timestamp — e.g. before
the key's first version) pass through with NULL attributes under
``how="left"`` (default), or drop under ``how="inner"``; production
quarantines them, it never guesses a version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sinks import file_stream, start_foreach_batch, write_batch


def temporal_enrich(
    events: DataFrame,
    dim: DataFrame,
    *,
    key: str,
    ts_col: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Join each event to the dim version whose
    [valid_from, valid_to) interval covers its timestamp. ``dim``
    must be dimension-sized (broadcast) with non-overlapping
    intervals per key; NULL valid_to = open-ended current version."""
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left|inner, got {how!r}")
    cond = (
        (events[key] == dim[key])
        & (events[ts_col] >= dim[valid_from])
        & (dim[valid_to].isNull() | (events[ts_col] < dim[valid_to]))
    )
    joined = events.join(F.broadcast(dim), cond, how)
    # keep the event-side key; dim payload columns ride along
    return joined.drop(dim[key])


def stream_enrich_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    dim: DataFrame,
    out_dir: str,
    key: str,
    ts_col: str = "ts",
    how: str = "left",
) -> None:
    """One micro-batch through the temporal enrichment. Idempotent
    under same-batch_id retry (dynamic overwrite of the batch's own
    partition)."""
    if batch_df.isEmpty():
        return
    write_batch(
        temporal_enrich(batch_df, dim, key=key, ts_col=ts_col, how=how),
        batch_id,
        out_dir,
    )


def stream_enrich_temporal(
    spark,
    source_dir: str,
    schema: str,
    dim: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    key: str,
    ts_col: str = "ts",
    how: str = "left",
):
    """Wire the enrichment to a file-source stream (availableNow — the
    test harness path; swap the source for Kafka in production, the
    batch body is source-agnostic). The dim frame is resolved ONCE at
    wiring time; a dim refresh restarts the query (SCD2 appends new
    versions, so a restart only ever ADDS match candidates)."""
    return start_foreach_batch(
        file_stream(spark, source_dir, schema),
        lambda df, bid: stream_enrich_batch(
            df, bid, dim=dim, out_dir=out_dir, key=key, ts_col=ts_col, how=how
        ),
        checkpoint_dir,
    )
