"""State-partition compaction for the batch_id-partitioned streaming
states (chunk-hash index, MinHash signature table, drift counts,
boilerplate gram-count log, streaming text index).

Every stateful stream in this package appends its per-batch state as
its OWN ``batch_id=k`` partition (retries rewrite only their own
partition — the effectively-once contract), so the state directory
gains one partition per micro-batch and the per-batch state probe's
file fan-out grows with stream lifetime. Compaction folds retired
partitions into one consolidated partition — a pure file-count
optimization: no reader cares WHICH partition a state row lives in,
only what the rows say.

Protocol — reader-atomic generation flip (functions/generations.py):

- Generation ``g``'s consolidated rows live in partition
  ``batch_id=-g``; the live generation is published by the atomic
  ``_GEN_<g>.json`` marker, whose payload records ``max_folded`` =
  the highest raw batch_id folded into that generation.
- Readers go through :func:`read_live_state`, which resolves the
  marker FIRST and filters to ``batch_id == -g OR batch_id >
  max_folded``. A compaction running concurrently is invisible: the
  new ``batch_id=-(g+1)`` partition is pruned by the g-filter, and
  generation g's inputs are only garbage-collected TWO compactions
  later (r13 two-cycle GC — ``prev_max_folded`` in the marker
  payload records what the previous generation could still select)
  — an in-flight reader keeps every file it resolved across two
  full compaction cycles. Compaction therefore runs safely
  concurrent with the stream; no pause-the-world window.
- Crash safety: every byte written before the marker rename is
  invisible to readers, so a crash at any step leaves the state at
  generation ``g`` exactly; the next call GCs partial artifacts and
  recomputes. ADDITIVE folds (summed counts) can never double-count
  because the fold input is always the marker-resolved live set.

**keep_last**: structured streaming commits batch k before starting
k+1, so only the NEWEST batch can ever replay; a replayed batch must
not meet its own first attempt where the operator's retry guard is
partition-based (chunk gate and boilerplate read state MINUS their
own batch_id). ``keep_last=1`` keeps exactly the still-retry-eligible
partitions out of the fold.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.generations import (
    current_generation,
    gc_stale_markers,
    hadoop_fs,
    list_names,
    live_generation,
    publish_generation,
    read_live_state,  # noqa: F401 — re-exported reader entry point
    read_small_text,
    read_state,
)

# generation 1's partition id (generation g lives at batch_id=-g);
# kept under the historical name — pre-generation state dirs used a
# single batch_id=-1 consolidated partition, which the protocol
# adopts verbatim as the IMPLICIT generation 1 (no marker needed), so
# the first marker a store ever publishes is _GEN_2.json and a crash
# before it can only leave a sub- -1 partition no reader selects
COMPACTED_BATCH_ID = -1


def _recover_legacy_swap(spark: SparkSession, state_dir: str) -> None:
    """Migrate a directory left mid-compaction by the r11 staged-swap
    protocol (``_compact_tmp`` stage + ``_COMPACTING`` intent
    marker). A parseable marker means the stage completed — replay
    the swap forward; an unparseable marker is a crash mid-create,
    which under that protocol preceded every delete, so marker and
    stage are both garbage (advisor finding r11)."""
    fs, HPath = hadoop_fs(spark, state_dir)
    marker = f"{state_dir}/_COMPACTING"
    tmp = HPath(f"{state_dir}/_compact_tmp")
    raw = read_small_text(spark, marker)
    if raw is not None:
        try:
            fold_ids = json.loads(raw)["fold"]
        except (ValueError, KeyError):
            fs.delete(HPath(marker), False)
            fs.delete(tmp, True)
            return
        dest = HPath(f"{state_dir}/batch_id={COMPACTED_BATCH_ID}")
        if fs.exists(tmp):
            if fs.exists(dest):
                fs.delete(dest, True)
            fs.rename(tmp, dest)
        for b in fold_ids:
            p = HPath(f"{state_dir}/batch_id={b}")
            if fs.exists(p):
                fs.delete(p, True)
        fs.delete(HPath(marker), False)
    elif fs.exists(tmp):
        # crashed BEFORE the marker: the stage may be partial — it is
        # garbage (state untouched), discard
        fs.delete(tmp, True)


def _gc_stale_partitions(
    spark: SparkSession,
    state_dir: str,
    gen: int,
    prev_max_folded: int,
) -> None:
    """Two-cycle deferred GC (module docstring): delete only the
    partitions that neither the live generation ``gen`` nor the
    PREVIOUS generation ``gen-1`` can select — consolidated
    partitions older than ``-(gen-1)`` and raw partitions already
    folded as of generation ``gen-1`` (``prev_max_folded``, carried
    in generation ``gen``'s marker payload). Generation ``gen-1``'s
    full live set therefore survives this compaction, so a reader
    that resolved it keeps every file it needs across TWO complete
    compaction cycles, not one (r13 — closes the r12 residual where
    a reader outliving a single cycle could race the delete)."""
    fs, HPath = hadoop_fs(spark, state_dir)
    for name in list_names(spark, state_dir):
        if not name.startswith("batch_id="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        stale_consolidated = b < 0 and b not in (-gen, -(gen - 1))
        folded_raw = 0 <= b <= prev_max_folded
        if stale_consolidated or folded_raw:
            fs.delete(HPath(f"{state_dir}/{name}"), True)


def compact_batch_partitions(
    spark: SparkSession,
    state_dir: str,
    fold: Callable[[DataFrame], DataFrame],
    *,
    keep_last: int = 1,
    sub_partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
) -> int:
    """Fold all but the newest ``keep_last`` raw batch_id partitions
    of ``state_dir`` (plus the prior consolidated generation) into
    the next generation's consolidated partition, using ``fold`` to
    merge the rows (its input still carries batch_id; its output
    must NOT). Returns the number of raw partitions folded; 0 when
    there is nothing to do, including a store with no commit yet (no
    partition, no generation marker). A store whose marker or
    partitions promise data that cannot be read raises.
    Reader-atomic and crash-safe per the module docstring — safe to
    run concurrently with the stream's own batches.

    ``sub_partition_by`` preserves secondary partition columns under
    the consolidated partition (e.g. the text index's ``bucket``, so
    probe-time partition pruning survives compaction).
    ``sort_within`` re-applies a file-clustering contract (e.g.
    term-sorted postings for row-group skipping) to the folded
    output.
    """
    _recover_legacy_swap(spark, state_dir)
    gen, max_folded = current_generation(spark, state_dir)
    # max_folded of generation gen-1, carried in gen's marker payload
    # (absent on pre-r13 markers and the implicit generation 1: -1 =
    # GC no raws this cycle; they fall out one cycle later once a
    # new-format marker lands)
    mk = live_generation(spark, state_dir)
    if mk is None and not any(
        n.startswith("batch_id=") for n in list_names(spark, state_dir)
    ):
        # no commit yet: the stream's first write may be in flight
        return 0
    prev_max_folded = (
        int(mk[1].get("prev_max_folded", -1)) if mk is not None else -1
    )
    gc_stale_markers(spark, state_dir, gen)
    _gc_stale_partitions(spark, state_dir, gen, prev_max_folded)

    df = read_state(spark, state_dir, "batch_id int")
    live_raw = sorted(
        r.batch_id
        for r in df.select("batch_id").distinct().collect()
        if r.batch_id >= 0
    )
    if len(live_raw) <= keep_last:
        return 0
    to_fold = live_raw[: len(live_raw) - keep_last]
    fold_ids = [-gen] + to_fold
    folded = fold(df.filter(F.col("batch_id").isin(fold_ids)))
    if sort_within:
        folded = folded.sortWithinPartitions(*sort_within)
    new_gen = gen + 1
    dest = f"{state_dir}/batch_id=-{new_gen}"
    writer = folded.write.mode("overwrite")
    if sub_partition_by:
        writer = writer.partitionBy(*sub_partition_by)
    writer.parquet(dest)
    # the marker IS the commit point — everything above is invisible
    # to readers resolving generation `gen`
    publish_generation(
        spark,
        state_dir,
        new_gen,
        # prev_max_folded = the OUTGOING generation's fold point:
        # the next compaction's two-cycle GC keeps everything the
        # outgoing generation's readers can still select
        {"max_folded": to_fold[-1], "prev_max_folded": max_folded},
    )
    return len(to_fold)


def compact_chunk_state(
    spark: SparkSession, state_dir: str, *, keep_last: int = 1
) -> int:
    """Compact the CDC chunk-hash index (streaming/chunkgate.py):
    fold = distinct chunk hashes."""
    return compact_batch_partitions(
        spark,
        state_dir,
        lambda df: df.select("chunk_hash").distinct(),
        keep_last=keep_last,
    )


def compact_sig_state(
    spark: SparkSession, state_dir: str, *, keep_last: int = 1
) -> int:
    """Compact the streaming-dedup signature table
    (streaming/dedup.py): one row per surviving doc id (ids are
    unique across batches by the survivor contract, so first-per-id;
    max(sig) is a deterministic tiebreak that only ever sees
    identical copies). Retry safety here is belt-and-braces: the
    dedup operator's id-collision guard already makes re-meeting
    one's own survivors safe, but the uniform keep_last contract
    costs nothing."""
    return compact_batch_partitions(
        spark,
        state_dir,
        lambda df: df.groupBy("id").agg(F.max("sig").alias("sig")),
        keep_last=keep_last,
    )


def compact_drift_counts(
    spark: SparkSession, counts_dir: str, *, keep_last: int = 1
) -> int:
    """Compact the drift monitor's bucket-counts log
    (streaming/drift.py): additive per bucket, so the fold sums n.
    keep_last guards the retry contract as for the other read-minus-
    self operators: a retried newest batch adds its counts to the log
    minus its own batch_id partition — if its first-attempt counts
    had been folded into the consolidated partition, the retry would
    double them. Cumulative PSI before/after compaction
    is pinned equal in tests/test_compaction.py."""
    return compact_batch_partitions(
        spark,
        counts_dir,
        lambda df: df.groupBy("bucket").agg(F.sum("n").alias("n")),
        keep_last=keep_last,
    )


def compact_stream_index(
    spark: SparkSession, index_path: str, *, keep_last: int = 1
) -> int:
    """Compact a STREAMING-built text index (streaming/indexing.py):
    its postings partition by (batch_id, bucket), so file fan-out is
    batches x buckets — the fastest-growing layout in the package.
    Postings rows are append-only facts (never merged; BM25 stats
    re-derive from the union at query time), so the fold is identity;
    the consolidated partition keeps the ``bucket`` sub-partitioning
    (probe-time pruning intact) and the term-sorted file clustering.
    doclen folds the same way (one row per doc, ids unique across
    batches). keep_last guards the retry contract: a retried newest
    batch rewrites its own partitions — folded first-attempt rows
    would duplicate its postings and double its term frequencies.
    Search-result equivalence before/after is pinned in
    tests/test_compaction.py. Returns folded-partition count for the
    postings table."""
    n = compact_batch_partitions(
        spark,
        f"{index_path}/postings",
        lambda df: df.drop("batch_id"),
        keep_last=keep_last,
        sub_partition_by=["bucket"],
        sort_within=["bucket", "term"],
    )
    compact_batch_partitions(
        spark,
        f"{index_path}/doclen",
        lambda df: df.drop("batch_id"),
        keep_last=keep_last,
    )
    return n


def compact_count_log(
    spark: SparkSession, counts_dir: str, *, keep_last: int = 1
) -> int:
    """Compact the boilerplate gram-count log
    (streaming/boilerplate.py): counts are ADDITIVE across batches,
    so the fold sums n per gram key — the case the generation
    protocol's invisible-until-committed rule exists for (a
    half-compacted additive directory read naively would
    double-count; the marker flip makes the fold exactly-once)."""
    keys = ["_h1", "_h2"]
    return compact_batch_partitions(
        spark,
        counts_dir,
        lambda df: df.groupBy(*keys).agg(F.sum("n").alias("n")),
        keep_last=keep_last,
    )
