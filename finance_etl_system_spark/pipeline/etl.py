"""The batch ETL pipeline (SURVEY §3.1) — the reference's flagship path
re-expressed Spark-first.

Reference shape (spark-job/etl_job.py:524-557): per-symbol driver loop
-> Mongo scan with $match watermark pushdown -> clean -> indicators ->
Mongo append + ES upsert -> watermark upsert. Its anti-patterns
(SURVEY §4): sequential per-symbol jobs, repeated count() actions,
append-mode duplicates, truncated-history windows at the watermark
boundary.

This module replaces that with ONE partitioned job over all symbols (no
driver loop) whose incremental batch costs O(new rows + lookback), like
the reference's ES doc-id upsert (etl_job.py:142-143,454-460), not
O(affected history):

- The slice. New rows are those past their symbol's watermark. With
  ``d0`` a symbol's earliest new ``trading_date``, the batch is
  recomputed together with that symbol's stored rows from ``d0`` on and
  the ``LOOKBACK_ROWS`` stored rows before ``d0`` (a partition-pruned
  read of the affected symbols), under one symbol partitioning that
  serves the dedup window and every indicator window. Windows therefore
  see the history they need (no truncated SMA-200, etl_job.py:289), and
  OBV, the one unbounded window, is re-anchored by the stored obv of the
  slice's first row.
- Append vs rewrite. When ``d0`` is after the symbol's newest stored
  date (the daily case) the new rows are appended as new files. When
  the batch collides with stored dates (a cross-day correction, or a
  replay after a crash between the table and watermark writes) only
  that symbol's partition is rewritten copy-on-write: stored rows before
  ``d0`` kept, the rest replaced. Mongo's append-mode duplication
  (etl_job.py:391) is deliberately NOT reproduced.
- The state swap. Watermarks are a tiny parquet table that stays in the
  JVM: joined to the batch, never collected into a Python list. Each
  write goes to a staging directory that is then swapped in, and a
  read tells "no state yet" (path missing) from "state unreadable"
  (raises).

``compact_partitions`` folds the files the appends add.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .indicators import technical_indicators
from ..functions.confs import partition_overwrite
from ..functions.generations import hadoop_fs, path_exists

# Stored rows before a symbol's d0 that the incremental recompute
# re-reads: the widest bounded window (SMA-200) needs 199 of them; OBV is
# re-anchored instead (reference recomputes over new rows only: the
# truncated-window quirk).
LOOKBACK_ROWS = 200

RAW_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("date", T.StringType()),  # messy by contract
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("timestamp", T.StringType()),  # ISO-8601 crawl time
        T.StructField("consumed_at", T.TimestampType()),
    ]
)

REQUIRED_COLUMNS = ["ticker", "date", "open", "high", "low", "close", "volume"]
NUMERIC_COLUMNS = ["open", "high", "low", "close", "volume"]


def clean_and_prepare(df: DataFrame) -> DataFrame:
    """The reference's defensive clean step (etl_job.py:200-263), exact
    semantics, one declarative pass:

    - required-column contract (etl_job.py:218-221) — fail fast
    - regex date guard + salvage: rows whose ``date`` doesn't look like
      yyyy-MM-dd get the first embedded date extracted
      (etl_job.py:224-231, crawler.py:86-91)
    - numeric casts to double + NaN scrub (etl_job.py:240-243,444-450)
    - not-null filters on numerics (etl_job.py:245-247)
    - symbol column + deterministic sha2 row key — replaces the
      reference's nondeterministic uuid() (etl_job.py:254-257)
    - dedup on (symbol, trading_date): last timestamp wins — fixes the
      reference's Mongo append duplication (etl_job.py:391)
    """
    missing = [c for c in REQUIRED_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"raw frame missing required columns {missing}")

    date_ok = F.col("date").rlike(r"^\d{4}-\d{2}-\d{2}$")
    salvaged = F.regexp_extract(F.col("date"), r"(\d{4}-\d{2}-\d{2})", 1)
    out = df.withColumn(
        "trading_date",
        F.to_date(
            F.when(date_ok, F.col("date")).otherwise(
                F.when(salvaged != "", salvaged)
            ),
            "yyyy-MM-dd",
        ),
    ).filter(F.col("trading_date").isNotNull())

    for c in NUMERIC_COLUMNS:
        cast = F.col(c).cast("double")
        out = out.withColumn(c, F.when(F.isnan(cast), F.lit(None)).otherwise(cast))
    for c in NUMERIC_COLUMNS:
        out = out.filter(F.col(c).isNotNull())

    out = (
        out.withColumn("symbol", F.upper("ticker"))
        .withColumn(
            # try_: a malformed crawl timestamp yields NULL event_time
            # (ANSI mode would otherwise fail the whole job on one row)
            "event_time", F.try_to_timestamp(F.col("timestamp"))
        )
        .withColumn(
            "row_key",
            F.sha2(
                F.concat_ws(
                    "§", F.col("symbol"), F.date_format("trading_date", "yyyy-MM-dd")
                ),
                256,
            ),
        )
    )

    # last-write-wins dedup per (symbol, trading_date)
    from pyspark.sql import Window

    w = Window.partitionBy("symbol", "trading_date").orderBy(
        F.col("event_time").desc_nulls_last(), F.col("row_key")
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "date", "ticker", "timestamp")
    )


def compute_processed(clean: DataFrame) -> DataFrame:
    """clean -> 15 indicator columns (one window family, one shuffle)."""
    out = technical_indicators(
        clean,
        symbol_col="symbol",
        date_col="trading_date",
        close_col="close",
        volume_col="volume",
    )
    return out.withColumn(
        "symbol_date_key",
        F.concat_ws("_", F.col("symbol"), F.date_format("trading_date", "yyyy-MM-dd")),
    )


# --- watermark state (reference etl_watermarks, etl_job.py:99-120) ---

MARKS_SCHEMA = "symbol STRING, last_processed_ts TIMESTAMP, updated_at TIMESTAMP"


def _marks_path(state_dir: str) -> str:
    return f"{state_dir}/watermarks.parquet"


def _read_marks(spark: SparkSession, path: str) -> DataFrame | None:
    """The live marks as a lazy frame, or None when none were ever written.

    A swap that stopped between its delete and its rename left a complete
    staging copy and no live one; it is finished here. Anything present
    but unreadable raises at the frame's first action."""
    fs, HPath = hadoop_fs(spark, path)
    if not fs.exists(HPath(path)):
        if not fs.exists(HPath(f"{path}.staging/_SUCCESS")):
            return None
        _promote(fs, HPath, path)
    return spark.read.schema(MARKS_SCHEMA).parquet(path).select(
        "symbol", "last_processed_ts"
    )


def _promote(fs, HPath, path: str) -> None:
    if not fs.rename(HPath(f"{path}.staging"), HPath(path)):
        raise IOError(f"could not promote {path}.staging to {path}")


def read_watermarks(
    spark: SparkSession, state_dir: str, *, as_frame: bool = False
) -> dict[str, dt.datetime] | DataFrame | None:
    """Per-symbol high-water mark as a dict, or with ``as_frame`` as the
    lazy (symbol, last_processed_ts) frame that stays in the JVM.

    Empty ({} or None) only when no marks were ever written; a mark table
    that exists but cannot be read raises (the dict form here, the frame
    form at its first action) instead of passing for a first run."""
    marks = _read_marks(spark, _marks_path(state_dir))
    if as_frame:
        return marks
    return {} if marks is None else dict(marks.collect())


def write_watermarks(spark: SparkSession, state_dir: str, rows: DataFrame) -> None:
    """Advance each symbol's mark to max(old mark, max ``event_time`` of
    ``rows``) after success (reference etl_job.py:494-495,550-555). Marks
    of symbols absent from ``rows`` are kept (merge, not replace).

    The merged table is written as one file to a staging directory and
    swapped in (delete live, rename staging), so no job reads the files it
    overwrites and a crash leaves the old or the new marks whole."""
    path = _marks_path(state_dir)
    marks = rows.select("symbol", F.col("event_time").alias("last_processed_ts"))
    old = _read_marks(spark, path)
    if old is not None:
        marks = old.unionByName(marks)
    (
        marks.groupBy("symbol")
        .agg(F.max("last_processed_ts").alias("last_processed_ts"))
        .withColumn("updated_at", F.current_timestamp())
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}.staging")
    )
    fs, HPath = hadoop_fs(spark, path)
    fs.delete(HPath(path), True)
    _promote(fs, HPath, path)


def write_processed_idempotent(
    processed: DataFrame, out_dir: str, *, append: bool = False
) -> None:
    """Write ``processed`` into the symbol-partitioned table, one sorted
    file per touched partition (SURVEY §4 upsert pattern).

    By default a dynamic partition overwrite: re-running a batch replaces
    exactly the symbol partitions it touches — replay-safe like the
    reference's ES doc-id upsert, without Mongo's append duplicates. With
    ``append`` the rows land as new files beside the stored ones; the
    caller guarantees that none of their (symbol, trading_date) keys is
    stored yet."""
    writer = (
        processed.repartition("symbol")
        .sortWithinPartitions("symbol", "trading_date")
        .write.partitionBy("symbol")
    )
    if append:
        writer.mode("append").parquet(out_dir)
        return
    with partition_overwrite(processed.sparkSession, "dynamic"):
        writer.mode("overwrite").parquet(out_dir)


def compact_partitions(
    spark: SparkSession,
    table_dir: str,
    *,
    partition_col: str = "symbol",
    sort_cols: tuple[str, ...] = ("trading_date",),
) -> int:
    """Small-files compaction for append-mode sinks.

    Streaming foreachBatch and ``incremental_etl``'s daily appends add
    one file per touched partition per batch — at 100 TB that's the
    classic small-files death spiral. Rewrite each
    partition as one sorted file set (sortWithinPartitions restores
    min/max pruning). Returns the file count after compaction.

    Plain-parquet caveat: the rewrite is not atomic; production runs it
    on a quiesced table or via a staging-dir swap.
    """
    import glob

    df = spark.read.parquet(table_dir).localCheckpoint(eager=True)
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(partition_col, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(table_dir)
    )
    return len(glob.glob(f"{table_dir}/**/*.parquet", recursive=True))


def _recompute_slice(batch: DataFrame, stored: DataFrame) -> DataFrame:
    """The rows of ``batch``'s symbols from each one's ``d0`` (earliest
    batch date) on, recomputed with the ``LOOKBACK_ROWS`` stored rows
    before ``d0`` as window context. ``stored`` holds those symbols'
    stored rows; every window below runs under one symbol partitioning."""
    by_sym = Window.partitionBy("symbol")
    both = (
        batch.withColumn("_new", F.lit(True))
        .withColumn("_stored_obv", F.lit(None).cast("double"))
        .unionByName(
            stored.select(
                *batch.columns,
                F.lit(False).alias("_new"),
                F.col("obv").alias("_stored_obv"),
            )
        )
        .repartition("symbol")
    )
    # one row per key, ranked as clean_and_prepare ranks duplicates
    # (latest event_time wins); the batch row wins a tie
    w_key = Window.partitionBy("symbol", "trading_date").orderBy(
        F.col("event_time").desc_nulls_last(), F.col("_new").desc()
    )
    # d0 before the dedup: a batch row may lose its key to a stored row
    d0 = F.min(F.when(F.col("_new"), F.col("trading_date"))).over(by_sym)
    sliced = (
        both.withColumn("_write", F.col("trading_date") >= d0)
        .withColumn("_rn", F.row_number().over(w_key))
        .filter(F.col("_rn") == 1)
        # rows from d0 on rank first newest-first; keep LOOKBACK_ROWS more
        .withColumn(
            "_back",
            F.row_number().over(by_sym.orderBy(F.col("trading_date").desc()))
            - F.count(F.when(F.col("_write"), 1)).over(by_sym),
        )
        .filter(F.col("_back") <= LOOKBACK_ROWS)
    )
    processed = compute_processed(sliced)
    # OBV is the one unbounded window; the slice's running sum is 0 on its
    # first row. That row is a stored row before d0, whose stored obv is
    # exact, or the symbol's first row ever, whose obv is 0: adding its
    # stored obv re-anchors the whole recomputed series.
    anchor = F.first("_stored_obv").over(by_sym.orderBy("trading_date"))
    return (
        processed.withColumn("obv", F.col("obv") + F.coalesce(anchor, F.lit(0.0)))
        .filter(F.col("_write"))
        .drop("_new", "_stored_obv", "_rn", "_write", "_back")
    )


def incremental_etl(
    spark: SparkSession,
    raw: DataFrame,
    state_dir: str,
    out_dir: str,
) -> DataFrame:
    """One incremental batch over ALL symbols (no per-symbol loop).

    First run (no marks, no table): the whole cleaned input is computed
    and written; its marks come from the cleaned rows, not the indicators.

    Later runs:

    1. New rows = event_time > the symbol's mark, joined against the mark
       table in the JVM. The cleaned, filtered batch is materialised once;
       an empty batch (a replayed one) writes nothing.
    2. The slice: for each affected symbol, with ``d0`` its earliest new
       ``trading_date``, a partition-pruned read of its stored rows from
       ``d0`` on plus the ``LOOKBACK_ROWS`` rows before ``d0``. The slice
       and the batch are recomputed under one symbol partitioning, and
       the rows from ``d0`` on are kept.
    3. Symbols whose ``d0`` is after their newest stored date (the daily
       case) get those rows appended as new files. A symbol whose batch
       collides with stored dates — a cross-day correction, or a replay
       after a crash between the table write and the mark write — has
       its partition rewritten copy-on-write: stored rows before ``d0``
       kept, the rest replaced.
    4. Marks advance to max(old mark, the batch's max event_time) through
       a staging swap.

    A table without marks, or marks without a table, raises instead of
    passing for a first run. Returns the rows written (lazy on the append
    path).
    """
    clean = clean_and_prepare(raw)
    marks = read_watermarks(spark, state_dir, as_frame=True)
    if marks is None:
        if path_exists(spark, out_dir):
            raise RuntimeError(
                f"{out_dir} exists but {state_dir} holds no watermarks; "
                "refusing to rebuild the table from this batch alone"
            )
        processed = compute_processed(clean)
        write_processed_idempotent(processed, out_dir)
        write_watermarks(spark, state_dir, clean)
        return processed

    # event_time IS NULL (unparseable crawl timestamp) is an explicit
    # branch: such rows are always treated as new, matching first-run
    # behavior (which includes them). Without it, `null > mark` is null
    # and a watermarked symbol would silently drop bad-timestamp rows
    # that a first run accepts. They re-qualify on every run and collide
    # with their stored copy, which the rewrite path merges idempotently.
    batch = (
        clean.join(F.broadcast(marks), "symbol", "left")
        .filter(
            F.col("last_processed_ts").isNull()
            | F.col("event_time").isNull()
            | (F.col("event_time") > F.col("last_processed_ts"))
        )
        .drop("last_processed_ts")
        .localCheckpoint(eager=True)
    )
    starts = batch.groupBy("symbol").agg(F.min("trading_date").alias("_d0"))
    d0 = dict(starts.collect())
    processed = compute_processed(batch)
    if not d0:
        return processed

    # a missing table raises here, before anything is written
    stored = (
        spark.read.schema(processed.schema)
        .parquet(out_dir)
        .filter(F.col("symbol").isin(sorted(d0)))
    )
    newest = dict(stored.groupBy("symbol").agg(F.max("trading_date")).collect())
    collide = sorted(s for s, d in d0.items() if s in newest and d <= newest[s])

    rows = _recompute_slice(batch, stored)
    if not collide:
        write_processed_idempotent(rows, out_dir, append=True)
    else:
        # both frames read the partitions about to be replaced
        rows = rows.localCheckpoint(eager=True)
        is_hit = F.col("symbol").isin(collide)
        kept = (
            stored.filter(is_hit)
            .join(F.broadcast(starts), "symbol")
            .filter(F.col("trading_date") < F.col("_d0"))
            .select(*rows.columns)
        )
        rewrite = kept.unionByName(rows.filter(is_hit)).localCheckpoint(eager=True)
        if len(collide) < len(d0):
            write_processed_idempotent(rows.filter(~is_hit), out_dir, append=True)
        write_processed_idempotent(rewrite, out_dir)
    write_watermarks(spark, state_dir, batch)
    return rows
