"""Streaming search-index maintenance: documents stream in, the
persisted inverted index (operators/textindex.py) grows per
micro-batch — the engine-native twin of the reference's continuous
Spark→Elasticsearch indexing (reference spark-job/etl_job.py ES sink:
every processed batch is upserted into the search index).

Layout difference vs the batch builder: the streaming index partitions
postings by (batch_id, bucket) and doclen by batch_id, written with
dynamic-partition overwrite — a batch retried after a mid-batch crash
rewrites ITS OWN partitions, so the sink is effectively-once (same
contract as streaming/quality.py and streaming/dedup.py). Extra
partition columns are invisible to the reader: bm25_search_index
prunes on ``bucket`` exactly as for a batch-built index, and every
BM25 statistic re-derives from the union at query time (textindex.py's
append-only design), so a streaming-built index answers queries
IDENTICALLY to a batch build over the same corpus — pinned by the
replay test in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sqltext import pin_sql_text_conf
from ..operators.textindex import _postings
from .sinks import file_stream, start_foreach_batch, write_batch


def index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzed: bool = False,
) -> None:
    """One micro-batch into the index. Idempotent under same-batch_id
    retry (dynamic overwrite of the batch's own partitions)."""
    if batch_df.isEmpty():
        return
    pin_sql_text_conf(batch_df.sparkSession)
    post, dl = _postings(
        batch_df, text_col=text_col, id_col=id_col, analyzed=analyzed
    )
    # term-sorted within each (batch_id, bucket) file, so probe-time
    # term predicates row-group-skip — same layout contract as the
    # batch writers
    write_batch(
        post,
        batch_id,
        f"{index_path}/postings",
        partition_by=("bucket",),
        sort_within=("term",),
    )
    write_batch(dl, batch_id, f"{index_path}/doclen")


def stream_index_documents(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    analyzed: bool = False,
    max_files_per_trigger: int | None = 1,
):
    """Checkpointed streaming indexer: JSON document batches →
    per-batch postings/doclen partitions. Returns the started
    (availableNow) query. ``max_files_per_trigger`` pins the
    file→batch mapping so reruns replay identical batches."""
    docs = file_stream(
        spark, source_dir, "doc_id LONG, text STRING", max_files_per_trigger
    )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        index_batch(batch_df, batch_id, index_path, analyzed=analyzed)

    return start_foreach_batch(docs, fb, checkpoint_dir)
