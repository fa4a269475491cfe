"""Right-to-be-forgotten across DERIVED artifacts: one operator that
applies a deletion list to every persisted structure that can still
identify a document — corpus parquet tables, the inverted text index,
the IVF and IVF-PQ vector indexes, and dedup signature state.

The reference deletes nothing (its Mongo upsert loop only ever adds,
`/root/reference/kafka-consumer/consumer.py`); erasure across derived
state is what a production data platform is legally required to do
(GDPR art. 17), and the pieces already exist per artifact
(compact_text_index / compact_ivf_index / compact_ivf_pq_index, each
with the staging+directory-swap crash discipline). This module is the
COMPOSITION: one request-sized deletion list applied everywhere, one
audit row per artifact, so "did we actually forget doc X" is a single
call with machine-checkable output.

Semantics and scale:
- the deletion list is request-sized → it broadcasts into every
  anti-join; each artifact pays one full scan+rewrite (the same cost
  its own compaction already pays per window — erasure batches ride
  the regular compaction cadence at production scale).
- parquet table rewrites use the same staging+swap discipline as the
  index compactions: a crash leaves the OLD table or the NEW one,
  never a half-written directory.
- the audit output (artifact, rows_before, rows_after, rows_deleted)
  is computed from the artifact's own tables before/after, not from
  the request (a re-run of an already-forgotten id reports 0 deleted
  — idempotent, and the audit says so).
- COUNT note: rows_deleted for the text index counts POSTINGS rows
  (term×doc), not documents — the number a storage audit wants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.generations import hadoop_fs
from .textindex import _swap_dir, compact_text_index, verify_text_index


def _forget_parquet_table(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str,
    partition_by: list[str] | None = None,
) -> tuple[int, int]:
    """Anti-join rewrite of one parquet table under staging+swap.
    ``partition_by`` preserves a partitioned layout (e.g. the dedup
    state's batch_id partitions) so later partition-pruned reads and
    per-partition appends keep working. Returns (before, after).

    Crash/edge disciplines beyond the swap itself:
    - the staging write pins ``partitionOverwriteMode=static`` (and
      pre-deletes any stale ``.staging`` left by a crashed prior run):
      if a streaming sink left the session in dynamic mode, a
      partitioned overwrite would MERGE into the stale staging dir
      and the swap would promote supposedly-forgotten rows.
    - a deletion list covering EVERY row of a PARTITIONED table:
      writing zero rows partitioned yields a data-file-less dir
      (unreadable), and writing them unpartitioned leaves a
      root-level part file that the table's next per-partition
      append turns into a mixed root+partition-dir layout Spark
      refuses to read (review finding r9). The table directory is
      therefore REMOVED (via .old, so a crash mid-removal still
      leaves recoverable data): absent-dir is the documented
      bootstrap state of every partitioned state table here
      (functions/generations.read_state reads a missing path as "no
      state yet"), so later reads and appends keep working.
    - the same list against an UNPARTITIONED table writes one
      schema-bearing empty part file — readable, same columns.
    """
    from ..functions.confs import partition_overwrite

    t = spark.read.parquet(path)
    before = t.count()
    kept = t.join(
        F.broadcast(ids.select(F.col(ids.columns[0]).alias(id_col))),
        id_col,
        "left_anti",
    ).localCheckpoint(eager=True)  # count + write share one anti-join
    after = kept.count()
    if after == 0 and partition_by:
        fs, Path = hadoop_fs(spark, path)
        live = Path(path)
        old = Path(f"{path}.old")
        if fs.exists(old):
            fs.delete(old, True)
        if not fs.rename(live, old):
            raise IOError(f"could not stage out {path} for removal")
        fs.delete(old, True)
        return before, 0
    staging = f"{path}.staging"
    _delete_dir(spark, staging)
    with partition_overwrite(spark, "static"):
        w = kept.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
    _swap_dir(spark, path)
    return before, spark.read.parquet(path).count()


def _delete_dir(spark: SparkSession, path: str) -> None:
    """Remove a stale directory (crashed prior staging write) via the
    Hadoop FS API — same FS-portability contract as _swap_dir."""
    fs, Path = hadoop_fs(spark, path)
    p = Path(path)
    if fs.exists(p):
        fs.delete(p, True)


def forget_documents(
    spark: SparkSession,
    deleted_ids: DataFrame,
    *,
    corpus_tables: dict[str, str] | None = None,
    text_index: str | None = None,
    ivf_index: str | None = None,
    ivf_pq_index: str | None = None,
    dedup_state: str | None = None,
) -> DataFrame:
    """Apply one deletion list to every supplied artifact; return the
    audit frame (artifact, kind, rows_before, rows_after,
    rows_deleted), ordered by artifact.

    - ``corpus_tables``: {name: parquet_path} of doc tables keyed by
      ``doc_id`` (first column of ``deleted_ids`` is the id either
      way).
    - ``text_index`` / ``ivf_index`` / ``ivf_pq_index``: index roots;
      deletion delegates to each artifact's own compaction (which
      also folds append batches — erasure rides the compaction).
    - ``dedup_state``: the streaming MinHash signature table
      (streaming/dedup.py state_dir, keyed ``id``).
    """
    ids = deleted_ids.select(
        F.col(deleted_ids.columns[0]).alias("_del_id")
    ).distinct()
    audit: list[tuple[str, str, int, int]] = []

    for name, path in (corpus_tables or {}).items():
        b, a = _forget_parquet_table(spark, path, ids, "doc_id")
        audit.append((name, "corpus_table", b, a))

    if text_index is not None:
        from ..functions.generations import read_live_state

        postings = f"{text_index}/postings"
        # generation-aware counts (advisor r12): a streaming-built
        # index's folded batch partitions survive on disk until the
        # next compaction's deferred GC — a naive count in that
        # window double-counts them
        b = read_live_state(spark, postings).count()
        compact_text_index(
            spark, text_index, ids.select(F.col("_del_id").alias("doc_id"))
        )
        ver = verify_text_index(spark, text_index)
        if not ver["consistent"]:
            raise RuntimeError(
                f"text index inconsistent after forget: {ver}"
            )
        audit.append(
            ("text_index", "postings",
             b, read_live_state(spark, postings).count())
        )

    from .pq import compact_ivf_pq_index, verify_ivf_pq_index
    from .similarity import compact_ivf_index, verify_ivf_index

    for artifact, root, table, compact, verify in (
        ("ivf_index", ivf_index, "vectors", compact_ivf_index, verify_ivf_index),
        ("ivf_pq_index", ivf_pq_index, "codes",
         compact_ivf_pq_index, verify_ivf_pq_index),
    ):
        if root is None:
            continue
        b = spark.read.parquet(f"{root}/{table}").count()
        compact(
            spark, root,
            deleted_ids=ids.select(F.col("_del_id").alias("vec_id")),
        )
        ver = verify(spark, root)
        if not ver["consistent"]:
            raise RuntimeError(f"{artifact} inconsistent after forget: {ver}")
        audit.append(
            (artifact, table, b, spark.read.parquet(f"{root}/{table}").count())
        )

    if dedup_state is not None:
        b, a = _forget_parquet_table(
            spark, dedup_state, ids, "id", partition_by=["batch_id"]
        )
        audit.append(("dedup_state", "signatures", b, a))

    return spark.createDataFrame(
        [(n, k, b, a, b - a) for n, k, b, a in audit],
        "artifact string, kind string, rows_before long, "
        "rows_after long, rows_deleted long",
    ).orderBy("artifact")
