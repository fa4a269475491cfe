"""The micro-batch I/O every streaming path shares: one file-source
reader, two starters and one batch-keyed write.

- ``file_stream`` reads JSON files as a stream (the test-harness
  stand-in for a Kafka topic; the batch bodies are source-agnostic).
- ``start_foreach_batch`` runs a ``foreachBatch`` body and
  ``start_parquet_append`` an append-mode parquet sink. Both are
  checkpointed and ``availableNow``: drain what is there, then stop.
- ``write_batch`` is the effectively-once sink of every gate. The
  micro-batch id becomes a partition column and the write is a
  dynamic partition overwrite, so a batch retried after a crash
  rewrites exactly its own partitions.

``write_batch`` is also the one place that knows the zero-row rule. A
zero-row dynamic overwrite leaves a store that held nothing an empty
directory, and ``functions/generations.read_state`` refuses an empty
directory as unreadable. The write therefore removes that directory
again, so a store no batch has put a row into stays "no state yet" (a
missing path). The check is one directory listing, not a Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.confs import partition_overwrite
from ..functions.generations import hadoop_fs


def file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """JSON files under ``source_dir`` as a stream of ``schema`` rows.
    ``max_files_per_trigger=1`` makes every file its own micro-batch,
    so a rerun over the same files replays identical batches; None
    lets one batch take every available file."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.json(source_dir)


def _start(writer, checkpoint_dir: str):
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_foreach_batch(
    frame: DataFrame,
    body,
    checkpoint_dir: str,
    *,
    output_mode: str = "append",
):
    """Start ``body(batch_df, batch_id)`` over every micro-batch of the
    streaming ``frame``. Returns the started query."""
    return _start(
        frame.writeStream.outputMode(output_mode).foreachBatch(body),
        checkpoint_dir,
    )


def start_parquet_append(frame: DataFrame, out_dir: str, checkpoint_dir: str):
    """Start the streaming ``frame`` into an append-mode parquet sink at
    ``out_dir``. Returns the started query."""
    return _start(
        frame.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir),
        checkpoint_dir,
    )


def write_batch(
    frame: DataFrame,
    batch_id: int,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    sort_within: tuple[str, ...] = (),
) -> None:
    """Write ``frame`` as batch ``batch_id`` of the store at ``path``:
    partitioned by ``batch_id`` (then ``partition_by``), dynamic
    partition overwrite, and no empty store left behind (module
    docstring). ``sort_within`` orders each file after the partition
    columns, e.g. term-sorted postings whose row-group statistics let
    a term probe skip."""
    spark = frame.sparkSession
    cols = ("batch_id", *partition_by)
    keyed = frame.withColumn("batch_id", F.lit(int(batch_id)))
    if sort_within:
        keyed = keyed.sortWithinPartitions(*cols, *sort_within)
    with partition_overwrite(spark, "dynamic"):
        keyed.write.mode("overwrite").partitionBy(*cols).parquet(path)
    fs, HPath = hadoop_fs(spark, path)
    root = HPath(path)
    if len(fs.listStatus(root)) == 0:
        fs.delete(root, False)
