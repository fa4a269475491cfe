"""The store behind both persisted vector indexes: IVF
(operators/similarity.py) and IVF-PQ (operators/pq.py). Each kind
keeps its own model and scoring; this module owns the layout and the
crash/race protocol they share.

Layout under an index root:

- ``{path}/{payload}``: the payload table (``vectors`` or ``codes``),
  parquet partitioned by (batch_id, cluster). The build is batch 0,
  each append its own batch, a stream's micro-batch N batch
  ``IVF_STREAM_BATCH_BASE + N``. A probe pushes its routed clusters as
  a literal partition filter, so unprobed clusters are never listed
  (partition pruning, Spark SQL SIGMOD 2015).
- the kind's model tables (``centroids``; IVF-PQ also ``codebooks``
  and, for OPQ, ``rotation``).
- ``{path}/meta``: one row, the kind's column/shape contract plus a
  ``build_id``. It is written last: it is the build's commit.

Fences are empty files under the root:

- ``_BUILDING``: held by a build from before its first overwrite until
  after its meta commit. Between the two the tables can belong to
  different generations, which no table check can see.
- ``_COMPACTING``: held by a compaction for its whole run and released
  on success only, so a compaction that failed mid-swap leaves the
  index fenced until an operator repairs it.
- ``_APPENDING.<token>``: one lease per running append, removed in a
  ``finally``; only a killed process leaves one behind.

Each writer creates its own flag first and then looks for the others
(a two-flag, store-then-load protocol), so whichever way two writers
interleave, at least one sees the other and backs off without
writing. Readers refuse at entry while ``_BUILDING`` or
``_COMPACTING`` stands. That check alone leaves a window between
check and read, so a probe materialises its scan and then checks
again: a fence that appeared, or a meta row that changed (``build_id``
differs on every build), raises :class:`ProbeRaceError`, and the
probe retries against the new generation.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.confs import partition_overwrite
from ..functions.errors import error_condition
from ..functions.frames import literal_frame
from ..functions.generations import hadoop_fs, read_state

# batch_id namespace split: manual/auto appends allocate upward from
# 1 (batch 0 is the build), streaming appends (streaming/similarity)
# write IVF_STREAM_BATCH_BASE + micro_batch_id. Auto-assign ignores
# the stream namespace when computing max+1, so a manual append can
# never collide with — and dynamic-overwrite-DELETE — a future or
# replayed stream batch's partitions (the two counters are otherwise
# racing for the same integers).
IVF_STREAM_BATCH_BASE = 1_000_000_000

_LEASE_PREFIX = "_APPENDING."


@dataclass(frozen=True)
class Layout:
    """One index kind in the store. ``kind`` ("ivf", "ivf_pq") names
    it in messages and names its ``build_{kind}_index`` and
    ``verify_{kind}_index``; ``payload`` is its partitioned table;
    ``meta_schema`` is its meta row without ``build_id``."""

    kind: str
    payload: str
    meta_schema: str

    @property
    def label(self) -> str:
        return self.kind.upper().replace("_", "-")


class ProbeRaceError(RuntimeError):
    """A probe's post-scan check found an overlapping rebuild or
    compaction. Retryable by construction: a new attempt re-reads meta
    and fences and sees the new generation. A dedicated type, so the
    retry cannot fire on an unrelated RuntimeError whose text happens
    to match."""


def _build_marker(path: str) -> str:
    return f"{path}/_BUILDING"


def _compact_marker(path: str) -> str:
    return f"{path}/_COMPACTING"


def _append_lease(path: str, token: str) -> str:
    return f"{path}/{_LEASE_PREFIX}{token}"


def _leases(fs, HPath, path: str) -> list[str]:
    """Names of the append leases under the index root."""
    root = HPath(path)
    if not fs.exists(root):
        return []
    names = (st.getPath().getName() for st in fs.listStatus(root))
    return sorted(n for n in names if n.startswith(_LEASE_PREFIX))


def _fence_error(layout: Layout, path: str, marker: str) -> RuntimeError:
    """The manual-heal error for a standing fence."""
    where = f"{layout.label} index at {path}"
    if marker == _build_marker(path):
        return RuntimeError(
            f"{where} has a _BUILDING marker: a rebuild is running, or"
            " one crashed between its first table overwrite and its meta"
            " commit, so the tables may belong to different builds."
            " After confirming no rebuild is running, delete the marker"
            f" and rerun build_{layout.kind}_index to completion"
        )
    return RuntimeError(
        f"{where} has a _COMPACTING marker: a compaction is running, or"
        " one failed mid-swap. Retry after it finishes; if it failed,"
        f" run verify_{layout.kind}_index, repair (promote or remove"
        f" {layout.payload}.staging), then delete the marker to heal"
    )


def enter(spark, path: str, layout: Layout) -> None:
    """The entry fence of every reader and append: refuse while a
    build or a compaction fence stands. Standing state is not a race,
    so this is never retried."""
    fs, HPath = hadoop_fs(spark, path)
    for marker in (_build_marker(path), _compact_marker(path)):
        if fs.exists(HPath(marker)):
            raise _fence_error(layout, path, marker)


def _claim(spark, path: str, layout: Layout, mine: str, other: str):
    """Take the writer fence ``mine``, then look for the ``other``
    writer fence and for append leases; on either, drop ``mine`` and
    raise. Returns (fs, HPath, the held marker)."""
    fs, HPath = hadoop_fs(spark, path)
    marker = HPath(mine)
    if not fs.createNewFile(marker):
        raise _fence_error(layout, path, mine)
    try:
        if fs.exists(HPath(other)):
            raise _fence_error(layout, path, other)
        leases = _leases(fs, HPath, path)
        if leases:
            raise RuntimeError(
                f"{layout.label} index at {path} has in-flight append"
                f" lease(s) {leases}; retry after they finish (a lease"
                " left by a killed append must be deleted by the"
                f" operator, see verify_{layout.kind}_index)"
            )
    except Exception:
        fs.delete(marker, False)  # back off: nothing was written
        raise
    return fs, HPath, marker


def read_meta(spark, path: str, layout: Layout):
    """The index's meta row. Every build writes one, so a missing or
    empty meta table is a broken index."""
    meta = read_state(
        spark, f"{path}/meta", f"{layout.meta_schema}, build_id long"
    ).head()
    if meta is None:
        raise ValueError(
            f"{layout.label} index at {path} has no meta table (or an"
            f" empty one); rebuild it with build_{layout.kind}_index"
        )
    return meta


def _write_payload(frame: DataFrame, table: str, batch_id: int, mode: str):
    """Write ``frame`` (the payload's data columns plus ``cluster``) as
    batch ``batch_id``: static overwrite replaces the whole table,
    dynamic overwrite only this batch's (batch_id, cluster)
    partitions, so a replayed batch rewrites itself."""
    data = [c for c in frame.columns if c != "cluster"]
    with partition_overwrite(frame.sparkSession, mode):
        (
            frame.select(
                *data, F.lit(int(batch_id)).alias("batch_id"), "cluster"
            )
            .write.mode("overwrite")
            .partitionBy("batch_id", "cluster")
            .parquet(table)
        )


def build(
    spark,
    path: str,
    layout: Layout,
    *,
    payload: DataFrame,
    tables: dict[str, DataFrame | None],
    meta: tuple,
) -> None:
    """Write a whole index generation under ``_BUILDING``.

    ``payload`` (data columns plus ``cluster``) replaces the payload
    table as batch 0. ``tables`` are the kind's model tables in write
    order; a ``None`` entry is a table this generation does not have,
    removed after the commit. ``meta`` is the kind's meta row (values
    in ``layout.meta_schema`` order); it gets a fresh ``build_id`` and
    is written last, as the commit. The
    marker is dropped after the commit only: a build that fails
    leaves it, and every reader refuses until an operator deletes it
    and rebuilds. Callers train before calling, so a failed training
    leaves the old index untouched."""
    fs, HPath, marker = _claim(
        spark, path, layout, _build_marker(path), _compact_marker(path)
    )
    _write_payload(payload, f"{path}/{layout.payload}", 0, "static")
    for name, table in tables.items():
        if table is not None:
            table.write.mode("overwrite").parquet(f"{path}/{name}")
    # build_id (wall-clock ns; only uniqueness matters) lets a probe's
    # post-scan check see a whole rebuild that committed inside its
    # scan, even one with identical parameters. It goes in as data: a
    # literal would make every build compile a new class.
    row = (*meta, time.time_ns())
    literal_frame(spark, [row], f"{layout.meta_schema}, build_id long").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    for name, table in tables.items():
        stale = HPath(f"{path}/{name}")
        if table is None and fs.exists(stale):
            fs.delete(stale, True)
    fs.delete(marker, False)


def append(
    spark, path: str, layout: Layout, encode, batch_id: int | None
) -> None:
    """Append one batch under an append lease. ``encode(meta)`` gives
    the batch's payload frame (data columns plus ``cluster``) under
    the index's frozen model. ``batch_id=None`` takes the next id
    below ``IVF_STREAM_BATCH_BASE``, so a manual append never lands on
    (and dynamic-overwrites) a stream batch. Two concurrent appends
    that both auto-assign can race to the same id: serialize them, or
    give each writer its own explicit ids."""
    fs, HPath = hadoop_fs(spark, path)
    lease = HPath(_append_lease(path, uuid.uuid4().hex))
    if not fs.createNewFile(lease):  # pragma: no cover - uuid collision
        raise RuntimeError(f"could not take append lease {lease}")
    try:
        enter(spark, path, layout)
        frame = encode(read_meta(spark, path, layout))
        table = f"{path}/{layout.payload}"
        if batch_id is None:
            # answered from the partition listing, no data read
            top = (
                spark.read.parquet(table)
                .filter(F.col("batch_id") < IVF_STREAM_BATCH_BASE)
                .agg(F.max("batch_id"))
                .first()[0]
            )
            batch_id = int(top) + 1 if top is not None else 1
        _write_payload(frame, table, batch_id, "dynamic")
    finally:
        fs.delete(lease, False)


def compact(
    spark, path: str, layout: Layout, deleted_ids: DataFrame | None
) -> None:
    """Fold every batch of the payload table into batch 0, dropping
    the ids in the first column of ``deleted_ids``, through a staging
    table and a directory swap: a crash leaves the old table or the
    new one. Runs under ``_COMPACTING``, released on success only.
    Compact a streamed index only with its stream stopped on a fully
    committed checkpoint: an uncommitted batch replayed after the fold
    comes back as duplicate ids (``n_duplicate_ids``)."""
    # imported per call: tests replace textindex._swap_dir to inject a
    # mid-swap failure
    from .textindex import _swap_dir

    fs, _, marker = _claim(
        spark, path, layout, _compact_marker(path), _build_marker(path)
    )
    table = f"{path}/{layout.payload}"
    rows = spark.read.parquet(table)
    if deleted_ids is not None:
        id_col = read_meta(spark, path, layout)["id_col"]
        ids = deleted_ids.select(F.col(deleted_ids.columns[0]).alias(id_col))
        rows = rows.join(F.broadcast(ids.distinct()), id_col, "left_anti")
    _write_payload(rows.drop("batch_id"), f"{table}.staging", 0, "static")
    _swap_dir(spark, table)
    fs.delete(marker, False)


def _check_after_scan(spark, path: str, layout: Layout, meta) -> None:
    """Raise ProbeRaceError if a fence appeared or the meta row changed
    while the probe scanned."""
    fs, HPath = hadoop_fs(spark, path)
    where = f"{layout.label} probe at {path}"
    if fs.exists(HPath(_build_marker(path))):
        raise ProbeRaceError(
            f"{where} overlapped a rebuild (_BUILDING appeared during"
            " the scan); retry the probe after the rebuild finishes"
        )
    if fs.exists(HPath(_compact_marker(path))):
        raise ProbeRaceError(
            f"{where} overlapped a compaction (_COMPACTING appeared"
            " during the scan); retry the probe after it finishes"
        )
    now = None
    try:
        rows = spark.read.parquet(f"{path}/meta").collect()
        now = rows[0].asDict() if rows else None
    except AnalysisException as e:
        # a rebuild between the old meta's delete and the new one's
        # commit: the meta changed under the scan, the retryable race
        if error_condition(e) not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
    if now != meta.asDict():
        raise ProbeRaceError(
            f"{where} overlapped a completed rebuild (meta changed"
            f" during the scan: {meta.asDict()!r} → {now!r}); retry the"
            " probe against the new index"
        )


def probe(
    spark,
    path: str,
    layout: Layout,
    scan,
    *,
    verify_consistency: bool,
    retries: int,
    race_hook,
):
    """Run ``scan(meta)``, the kind's one lazy frame over index
    tables, against a single index generation; returns (meta, frame).

    Each attempt passes the entry fence, reads meta, builds the scan,
    materialises it (eager ``localCheckpoint``) and checks again. A
    detected race re-runs the attempt, up to ``retries`` times; a
    standing fence raises at entry. ``verify_consistency=False``
    returns the lazy frame unchecked, for plan inspection.
    ``race_hook`` is a test seam fired in the check-then-read window
    of the first attempt only."""
    attempt = 0
    while True:
        enter(spark, path, layout)
        meta = read_meta(spark, path, layout)
        frame = scan(meta)
        if attempt == 0 and race_hook is not None:
            race_hook()
        if not verify_consistency:
            return meta, frame
        try:
            try:
                frame = frame.localCheckpoint(eager=True)
            except Exception:
                # the failure may itself be the race (a rebuild
                # replaced files under the scan's listing): report it
                # as one if so, else re-raise it
                _check_after_scan(spark, path, layout, meta)
                raise
            _check_after_scan(spark, path, layout, meta)
            return meta, frame
        except ProbeRaceError:
            if attempt >= retries:
                raise
            attempt += 1


def stats(spark, path: str, layout: Layout, per_cluster) -> DataFrame:
    """Retrain-trigger report, one row per cluster ordered by cluster:
    ``per_cluster(meta)`` gives ``cluster``, its ``n_*`` counts
    (``n_vectors`` first) and the kind's quality columns; ``share`` of
    all vectors goes after the counts."""
    enter(spark, path, layout)
    per = per_cluster(read_meta(spark, path, layout))
    counts = [c for c in per.columns if c == "cluster" or c.startswith("n_")]
    quality = [c for c in per.columns if c not in counts]
    total = per.agg(F.sum("n_vectors").alias("n_total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            *counts,
            F.round(F.col("n_vectors") / F.col("n_total"), 6).alias("share"),
            *quality,
        )
        .orderBy("cluster")
    )


def verify(spark, path: str, layout: Layout, audit) -> dict:
    """Consistency report, detecting without repairing:

    - ``bad_cluster_rows``: payload rows under a cluster outside
      0..k-1, which no probe can reach;
    - ``missing_centroids``: gaps in the 0..k-1 range meta promises;
    - ``n_duplicate_ids``: ids stored more than once, the signature
      of a stream batch replayed after a compaction folded it;
    - the fences: ``stale_build_marker``, ``stale_compact_marker``,
      ``stale_staging_dir`` (the swap never ran; the live table is the
      old one) and ``stale_append_leases``.

    ``audit(meta)`` adds the kind's own checks: (fields, bad-row
    predicates over the payload). Every ``bad_*`` count and
    ``missing_*`` list must be empty for ``consistent``; other fields
    describe shape. Fences are read before any table, so a fenced
    index whose tables cannot be read reports ``read_error`` instead
    of raising. One scan of the payload table."""
    fs, HPath = hadoop_fs(spark, path)
    fences = {
        "stale_build_marker": bool(fs.exists(HPath(_build_marker(path)))),
        "stale_compact_marker": bool(fs.exists(HPath(_compact_marker(path)))),
        "stale_staging_dir": bool(
            fs.exists(HPath(f"{path}/{layout.payload}.staging"))
        ),
        "stale_append_leases": _leases(fs, HPath, path),
    }
    fenced = any(fences.values())
    try:
        meta = read_meta(spark, path, layout)
        k = int(meta["k_clusters"])
        cent_ids = {
            r["cluster"]
            for r in spark.read.parquet(f"{path}/centroids")
            .select("cluster")
            .collect()
        }
        fields, bad_rows = audit(meta)
        cluster = F.col("cluster")
        bad_rows = {
            "bad_cluster_rows": (cluster < 0) | (cluster >= k),
            **bad_rows,
        }
        agg = (
            spark.read.parquet(f"{path}/{layout.payload}")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col(meta["id_col"])).alias("n_ids"),
                *[F.sum(p.cast("long")).alias(n) for n, p in bad_rows.items()],
            )
            .collect()[0]
        )
    except Exception as e:  # noqa: BLE001 — reported under a fence
        if fenced:
            return {**fences, "consistent": False, "read_error": repr(e)[:200]}
        raise
    out = {
        "k_clusters": k,
        **fields,
        "n_vectors": int(agg["n"]),
        **{n: int(agg[n] or 0) for n in bad_rows},
        "missing_centroids": sorted(set(range(k)) - cent_ids),
        "n_duplicate_ids": int(agg["n"]) - int(agg["n_ids"]),
        **fences,
    }
    out["consistent"] = (
        not fenced
        and out["n_duplicate_ids"] == 0
        and not any(
            v for n, v in out.items() if n.startswith(("bad_", "missing_"))
        )
    )
    return out
