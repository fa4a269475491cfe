"""Reader-atomic generation markers for compactable on-disk state.

Several on-disk stores in this package are APPEND-MOSTLY but need
periodic consolidation: the ``batch_id=k``-partitioned streaming
states (chunk-hash index, MinHash signatures, drift counts,
boilerplate gram counts, streaming text index) and the IVF/PQ index
table sets. Consolidation rewrites data that concurrent readers may
be scanning, so the commit must be a single atomic, crash-safe step
that readers observe either entirely or not at all.

The protocol (shared by streaming/compaction.py and the index
rebuilds that adopt it):

- A *generation* ``g`` is one consolidated snapshot. Its data lives
  in paths derived from ``g`` (for batch_id-partitioned state:
  partition ``batch_id=-g``), so writing generation ``g+1`` never
  touches any byte generation ``g``'s readers can see.
- The live generation is published by a marker file
  ``_GEN_<g>.json`` in the store root (underscore-prefixed, so
  Spark's file discovery never treats it as data). Readers resolve
  ``max(g)`` over the *parseable* marker files — a half-written
  marker is unparseable JSON (the braces never balance on a prefix)
  and is skipped, so the flip is atomic by parse-validation even on
  filesystems without overwrite-rename. The writer additionally
  stages the marker under a ``.tmp`` name (excluded by the reader's
  exact-filename regex) and renames it into place, so on any
  POSIX-rename filesystem readers never even see a partial file.
- Old generations are garbage-collected TWO compaction cycles after
  they stop being live, not at publish time (r13): each marker
  carries ``prev_max_folded`` — the outgoing generation's fold
  point — and the GC at the start of a compaction deletes only what
  neither the live generation nor its predecessor can select. An
  in-flight reader that resolved generation ``g`` therefore keeps
  every file it needs across two complete subsequent compaction
  cycles (pinned by tests/test_compaction.py's
  slow-reader-spans-a-cycle test); only a reader outliving BOTH
  would race the delete, which for the micro-batch cadences here is
  a scan lasting two full compaction intervals.

Crash safety falls out: every mutation before the marker rename is
invisible to readers (a new ``batch_id=-(g+1)`` partition is pruned
by the live filter; a ``.tmp`` marker matches no reader regex), so a
crash at ANY step leaves the store exactly at generation ``g`` and
the next compaction GCs the partial artifacts and recomputes.
Additive folds (summed counts) can therefore never double-count.
"""

from __future__ import annotations

import json
import re

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import error_condition

_GEN_RE = re.compile(r"^_GEN_(\d+)\.json$")


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-constructor) for ``path`` via the session's
    Hadoop conf — the one sanctioned way this package touches the
    filesystem driver-side, so local FS and HDFS behave alike."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), jvm.org.apache.hadoop.fs.Path


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, HPath = hadoop_fs(spark, path)
    return fs.exists(HPath(path))


def list_names(spark: SparkSession, dir_path: str) -> list[str]:
    """Child names of ``dir_path`` ([] if it does not exist)."""
    fs, HPath = hadoop_fs(spark, dir_path)
    p = HPath(dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def read_small_text(spark: SparkSession, path: str) -> str | None:
    """Driver-side read of a small text file (markers); None if the
    path is missing. py4j passes byte[] by value, so a read(buf) loop
    cannot fill a Python bytearray — go through a Java line reader."""
    fs, HPath = hadoop_fs(spark, path)
    p = HPath(path)
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(stream, "UTF-8")
    )
    try:
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
    finally:
        reader.close()
    return "\n".join(lines)


def write_small_text_atomic(
    spark: SparkSession, path: str, content: str
) -> None:
    """Create ``path`` so readers only ever observe it complete:
    stage under ``<path>.tmp`` and rename into place. The rename
    never needs overwrite semantics (publish targets are
    never-reused generation names), so it is atomic on local FS and
    HDFS alike."""
    fs, HPath = hadoop_fs(spark, path)
    tmp = HPath(path + ".tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(content.encode()))
    out.close()
    if not fs.rename(tmp, HPath(path)):
        raise RuntimeError(f"atomic marker rename failed: {path}")


def gen_marker_name(gen: int) -> str:
    return f"_GEN_{gen}.json"


def live_generation(
    spark: SparkSession, store_dir: str
) -> tuple[int, dict] | None:
    """(generation, marker-payload) of the newest COMPLETE generation
    marker under ``store_dir``, or None when the store has never been
    compacted under this protocol. Unparseable marker files (a crash
    mid-create on a no-rename filesystem) are skipped — the previous
    generation stays live — and GC'd by the next compaction."""
    gens = sorted(
        (
            int(m.group(1))
            for m in (_GEN_RE.match(n) for n in list_names(spark, store_dir))
            if m
        ),
        reverse=True,
    )
    for g in gens:
        raw = read_small_text(spark, f"{store_dir}/{gen_marker_name(g)}")
        if raw is None:
            continue
        try:
            payload = json.loads(raw)
        except ValueError:
            continue  # partial write from a crash — not published
        return g, payload
    return None


def publish_generation(
    spark: SparkSession, store_dir: str, gen: int, payload: dict
) -> None:
    """Atomically publish generation ``gen`` (see module docstring).
    Call ONLY after every data file of the generation is fully
    written — the marker IS the commit point."""
    write_small_text_atomic(
        spark,
        f"{store_dir}/{gen_marker_name(gen)}",
        json.dumps({"gen": gen, **payload}),
    )


def gc_stale_markers(
    spark: SparkSession, store_dir: str, live_gen: int
) -> None:
    """Delete every generation-marker artifact except the live one:
    older generations' markers, unparseable partials, stale
    ``.tmp`` stages. Run at the start of a compaction (deferred GC —
    module docstring)."""
    fs, HPath = hadoop_fs(spark, store_dir)
    for name in list_names(spark, store_dir):
        m = _GEN_RE.match(name)
        stale_marker = m is not None and int(m.group(1)) != live_gen
        stale_tmp = name.startswith("_GEN_") and name.endswith(".tmp")
        if stale_marker or stale_tmp:
            fs.delete(HPath(f"{store_dir}/{name}"), False)


def live_batch_filter(gen: int, max_folded: int) -> Column:
    """Predicate selecting the live rows of a batch_id-partitioned
    state at generation ``gen``: the consolidated ``batch_id=-gen``
    partition plus every not-yet-folded raw batch. Partition-pruning
    friendly (pure batch_id comparison)."""
    return (F.col("batch_id") == F.lit(-int(gen))) | (
        F.col("batch_id") > F.lit(int(max_folded))
    )


def current_generation(
    spark: SparkSession, store_dir: str
) -> tuple[int, int]:
    """(generation, max_folded) a batch_id-partitioned store is live
    at. No marker = the IMPLICIT generation 1: partition ``-1`` (if
    present) is a pre-protocol consolidated partition adopted
    verbatim, every raw partition is live, and anything below ``-1``
    is a crashed fold's partial write. Starting implicit keeps the
    very first fold crash-safe too: it publishes generation 2, so a
    crash before its marker leaves only a sub- ``-1`` partition that
    no reader can select."""
    mk = live_generation(spark, store_dir)
    if mk is None:
        return 1, -1
    g, payload = mk
    return g, int(payload["max_folded"])


def read_live_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Marker-aware read of a (possibly) batch_id-partitioned,
    (possibly) compacted state directory. Resolves the live
    generation FIRST, then reads — so a compaction publishing
    generation g+1 concurrently is invisible (its new partition is
    pruned by the g-filter; its inputs survive until the NEXT
    compaction's deferred GC). Raises exactly what
    ``spark.read.parquet`` raises; :func:`read_state` adds the one
    "no state yet" rule on top. Frames without a ``batch_id`` column
    (e.g. a batch-built text index) read as-is."""
    g, max_folded = current_generation(spark, state_dir)
    df = spark.read.parquet(state_dir)
    if "batch_id" not in df.columns:
        return df
    return df.filter(live_batch_filter(g, max_folded))


def read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The one read of engine state: an empty frame of ``schema`` when
    there is no state yet, else :func:`read_live_state`. "No state yet"
    is a path that does not exist, or a directory holding a committed
    ``_SUCCESS`` and no data file (what a zero-row static or append
    ``partitionBy`` write leaves; a zero-row dynamic overwrite leaves
    an empty directory, which ``streaming/sinks.write_batch`` removes
    again). Anything else raises: a
    corrupt part, an empty directory without ``_SUCCESS``, a
    half-written ``_temporary`` — an unreadable state read as empty
    would admit or re-append a whole batch and then overwrite the
    state with that batch alone."""
    # probe first: a first run then costs one FS call, not a failed
    # read that logs a stack trace
    if not path_exists(spark, path):
        return spark.createDataFrame([], schema)
    try:
        return read_live_state(spark, path)
    except AnalysisException as e:
        cond = error_condition(e)
        # removed between the probe and the read, or committed empty
        if cond == "PATH_NOT_FOUND" or (
            cond == "UNABLE_TO_INFER_SCHEMA"
            and "_SUCCESS" in list_names(spark, path)
        ):
            return spark.createDataFrame([], schema)
        raise
