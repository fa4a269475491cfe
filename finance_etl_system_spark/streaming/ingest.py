"""Streaming ingest: the reference's Kafka->consumer->Mongo path
(SURVEY §3.2) as Structured Streaming.

Reference behavior being re-expressed:
- JSON decode per message (reference kafka-consumer/consumer.py:129)
  -> ``from_json`` on the value column, JVM-side
- ``consumed_at`` UTC enrichment (consumer.py:135)
  -> ``current_timestamp()``
- micro-batch flush at 500 msgs / 10 s (consumer.py:35-36,113-146)
  -> foreachBatch micro-batches (streaming/sinks.py starters)
- manual offset commit after flush = at-least-once (consumer.py:67,145)
  -> checkpointed offsets + idempotent sink = effectively-once
- per-ticker grouping before insert (consumer.py:139)
  -> partitionBy(symbol) on the sink

The Kafka wire format is reproduced exactly (key=ticker, value=JSON of
the crawler record, reference crawler/crawler.py:99-133) so a real
``readStream.format("kafka")`` drops in by swapping the source; tests
use the file source with the same (key, value) shape.

Scale notes: the only stateful operator is the optional windowed agg
(watermark-bounded state). The sink is append-only parquet partitioned
by symbol; exactly-once comes from checkpoint + deterministic row keys
+ dedup-on-read or periodic compaction, not from a driver-side set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.confs import partition_overwrite
from .sinks import file_stream, start_foreach_batch, start_parquet_append

# the Kafka record as the file source carries it: one JSON line per
# message with ``key``/``value`` fields
WIRE_SCHEMA = "key STRING, value STRING"

# crawler record shape (reference crawler/crawler.py:99-108)
KAFKA_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("timestamp", T.StringType()),
    ]
)


def parse_kafka_records(df: DataFrame) -> DataFrame:
    """(key, value) JSON records -> typed rows + consumed_at.

    Works on both streaming and batch frames (the batch twin is used
    in tests and by the DuckDB oracle path).
    """
    return (
        df.select(
            F.col("key").cast("string").alias("kafka_key"),
            F.from_json(F.col("value").cast("string"), KAFKA_VALUE_SCHEMA).alias("r"),
        )
        .select("kafka_key", "r.*")
        .withColumn("consumed_at", F.current_timestamp())
        .withColumn("event_time", F.to_timestamp("timestamp"))
    )


def wire_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """The file-source stand-in for the Kafka topic, parsed: every
    wire-format stream in this package starts here."""
    return parse_kafka_records(file_stream(spark, source_dir, WIRE_SCHEMA))


def write_keyed_overwrite(batch_df: DataFrame, out_dir: str) -> None:
    """The shared effectively-once batch sink: deterministic
    one-row-per-(symbol, date) pick + dynamic-partition overwrite.

    ``dropDuplicates`` keeps an ARBITRARY row, so a replayed batch
    could rewrite a key partition with different content and the sink
    would not converge; instead the surviving record is
    ``max(struct(content...))`` — the lexicographically largest
    content tuple, a pure function of the batch's rows, identical on
    every replay regardless of partitioning. ``consumed_at``
    (processing time) is excluded from the pick and re-aggregated
    separately, since it legitimately differs across replays.

    Partition grain = the record key, so overwrite IS upsert. For
    daily bars that is one file per symbol-day — the natural layout;
    for tick-grain keys use the append log + compaction path instead
    (a per-row partition would be a small-files blowup; SCALE.md).
    """
    with partition_overwrite(batch_df.sparkSession, "dynamic"):
        pick_latest_per_key(batch_df).write.mode("overwrite").partitionBy(
            "symbol", "date"
        ).parquet(out_dir)


def pick_latest_per_key(batch_df: DataFrame) -> DataFrame:
    """Deterministic one-row-per-(symbol, date): max(struct(content))
    — see :func:`write_keyed_overwrite`."""
    batch = batch_df.withColumn("symbol", F.upper("ticker"))
    audit = [c for c in ("consumed_at",) if c in batch.columns]
    content = [
        c for c in batch.columns if c not in ("symbol", "date", *audit)
    ]
    return (
        batch.groupBy("symbol", "date")
        .agg(
            F.max(F.struct(*content)).alias("r"),
            *[F.max(c).alias(c) for c in audit],
        )
        .select("symbol", "date", "r.*", *audit)
    )


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """File-source stand-in for the Kafka topic: each JSON line is one
    message with ``key``/``value`` fields. Returns the started query.

    Delivery contract: EFFECTIVELY-ONCE. foreachBatch writes parquet
    partitioned by the deterministic record key (symbol, date) in
    dynamic-partition-overwrite mode — a replayed batch (crash between
    the write and the checkpoint commit, or a fresh checkpoint over
    the same source) rewrites the same key partitions with identical
    content instead of appending duplicates, so the sink CONVERGES
    under replay (the reference's ES doc-id upsert semantics,
    spark-job/etl_job.py:457; its Mongo side duplicated on rerun —
    quirk fixed, not copied). Later batches carrying an existing key
    upsert it (last writer wins); new keys land in new partitions.
    """
    return start_foreach_batch(
        wire_stream(spark, source_dir),
        lambda batch_df, _bid: write_keyed_overwrite(batch_df, out_dir),
        checkpoint_dir,
    )


def stream_ingest_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    starting_offsets: str = "earliest",
):
    """The REAL Kafka source path (reference
    kafka-consumer/consumer.py:62-73 subscribe/poll/commit):
    ``readStream.format("kafka")`` → the same parse + effectively-once
    keyed-overwrite sink as ``stream_ingest`` — the two differ ONLY in
    the source line, which is the whole point of the wire-format twin
    (tests drive the file twin; a broker run needs just this entry).

    Requires a reachable broker and the spark-sql-kafka package on the
    classpath; integration tests gate on $SPARK_GRAFT_KAFKA_BOOTSTRAP
    and skip cleanly when absent. Offsets live in the checkpoint (not
    broker-side commits), so replay semantics are identical to the
    file twin's.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return start_foreach_batch(
        parse_kafka_records(raw),
        lambda batch_df, _bid: write_keyed_overwrite(batch_df, out_dir),
        checkpoint_dir,
    )


def stream_to_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    *,
    key_col: str = "ticker",
    value_cols: list[str] | None = None,
):
    """The REAL Kafka producer path (reference crawler/crawler.py:
    126-133 produce): shape rows into the exact wire format via
    ``to_kafka_frame`` (sources/readers.py) and publish with
    ``writeStream.format("kafka")``. Works on a streaming frame;
    for a batch frame use ``to_kafka_frame(df).write.format("kafka")``
    with the same options. Broker-gated like ``stream_ingest_kafka``.
    """
    from ..sources.readers import to_kafka_frame

    wire = to_kafka_frame(df, key_col=key_col, value_cols=value_cols)
    return (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    window: str = "1 hour",
    watermark_delay: str = "30 minutes",
):
    """Watermarked tumbling count per symbol, append-mode to parquet.

    Append mode only emits a window once the watermark passes its end —
    the observable late-data contract (T4): rows later than
    ``watermark_delay`` behind the max seen event time are dropped.
    Returns the started query (availableNow trigger).
    """
    agg = (
        wire_stream(spark, source_dir)
        .withWatermark("event_time", watermark_delay)
        .groupBy(
            F.window("event_time", window).alias("win"),
            F.upper("ticker").alias("symbol"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("win.start").alias("window_start"), "symbol", "n_rows")
    )
    return start_parquet_append(agg, out_dir, checkpoint_dir)


def stream_ingest_dual_sink(
    spark: SparkSession,
    source_dir: str,
    append_dir: str,
    upsert_dir: str,
    checkpoint_dir: str,
):
    """The reference's two-sink flagship write (reference
    spark-job/etl_job.py:389-460: Mongo append THEN Elasticsearch
    doc-id upsert, per batch) as one foreachBatch.

    Sink 1 (`append_dir`) is the raw event log — append-only,
    partitioned by symbol. Sink 2 (`upsert_dir`) is the serving copy —
    dynamic partition overwrite keyed by symbol, so replaying a batch
    rewrites the same partitions instead of duplicating (the
    reference's Mongo side DID duplicate on rerun, etl_job.py:391 —
    quirk fixed, not copied). Both writes happen inside one batch
    function; the checkpoint pins source offsets, so a crash between
    the two writes replays the batch and the upsert sink converges
    while the append sink dedups on read via the deterministic
    (symbol, date) key.
    """

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        # deterministic per-key pick (NOT dropDuplicates, which keeps
        # an arbitrary row and would diverge on replay)
        batch = pick_latest_per_key(batch_df).persist()
        try:
            (
                batch.write.mode("append")
                .partitionBy("symbol")
                .parquet(append_dir)
            )
            with partition_overwrite(batch.sparkSession, "dynamic"):
                (
                    batch.write.mode("overwrite")
                    .partitionBy("symbol")
                    .parquet(upsert_dir)
                )
        finally:
            batch.unpersist()

    return start_foreach_batch(
        wire_stream(spark, source_dir), write_both, checkpoint_dir
    )


def stream_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark_delay: str = "1 hour",
):
    """Cross-micro-batch stateful dedup via
    ``dropDuplicatesWithinWatermark`` — the engine-level form of the
    reference's ES doc-id upsert (reference spark-job/etl_job.py:457:
    replay-safe because the sink rewrites the same id). Here the
    duplicate never reaches the sink: Spark keeps one state entry per
    (symbol, date) key until the watermark passes, so re-delivered
    messages across batches are dropped with BOUNDED state — unlike
    plain dropDuplicates on a stream, whose state grows forever.
    Returns the started query (availableNow trigger).
    """
    deduped = (
        wire_stream(spark, source_dir)
        .withColumn("symbol", F.upper("ticker"))
        .withWatermark("event_time", watermark_delay)
        .dropDuplicatesWithinWatermark(["symbol", "date"])
    )
    return start_parquet_append(deduped, out_dir, checkpoint_dir)


def stream_stream_join(
    spark: SparkSession,
    trades_dir: str,
    signals_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark_delay: str = "1 hour",
    join_horizon_minutes: int = 30,
):
    """Stream-stream interval join: each trade row matched to signal
    rows for the same symbol whose event time falls within
    ``join_horizon_minutes`` AFTER the trade.

    The reference has nothing like this (its consumer is a single
    stream, reference kafka-consumer/consumer.py:113-146); this is the
    Structured Streaming capability the engine adds. Both sides carry
    a watermark and the join condition bounds the time skew, so each
    side's buffered state is capped at (watermark_delay +
    join_horizon) of data per symbol — without the time bound Spark
    would have to keep BOTH streams forever. Returns the started query
    (availableNow trigger, append-only parquet sink).
    """
    trades = (
        wire_stream(spark, trades_dir)
        .select(
            F.upper("ticker").alias("symbol"),
            F.col("event_time").alias("trade_time"),
            F.col("close").alias("trade_close"),
        )
        .withWatermark("trade_time", watermark_delay)
    )
    signals = (
        wire_stream(spark, signals_dir)
        .select(
            F.upper("ticker").alias("sig_symbol"),
            F.col("event_time").alias("signal_time"),
            F.col("close").alias("signal_value"),
        )
        .withWatermark("signal_time", watermark_delay)
    )
    cond = (
        (trades.symbol == signals.sig_symbol)
        & (signals.signal_time >= trades.trade_time)
        & (
            signals.signal_time
            <= trades.trade_time + F.expr(f"INTERVAL {join_horizon_minutes} MINUTES")
        )
    )
    joined = trades.join(signals, cond).select(
        "symbol", "trade_time", "trade_close", "signal_time", "signal_value"
    )
    return start_parquet_append(joined, out_dir, checkpoint_dir)


def stream_session_agg(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
):
    """LIVE gap-based sessionization (T6): ``session_window`` merges
    events per symbol into sessions that close after ``gap`` of
    silence; append mode emits a session only once the watermark
    guarantees no more members can arrive.

    The batch twin (q: session_window, queries/windows.py) defines the
    oracle semantics; this is the streaming deployment of the same
    operator. State per key = the OPEN sessions only — the watermark
    expires closed ones, so state is bounded by activity, not history.
    Returns the started query (availableNow trigger).
    """
    sess = (
        wire_stream(spark, source_dir)
        .withWatermark("event_time", watermark_delay)
        .groupBy(
            F.session_window("event_time", gap).alias("win"),
            F.upper("ticker").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("close"), 6).alias("avg_close"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "symbol",
            "n_rows",
            "avg_close",
        )
    )
    return start_parquet_append(sess, out_dir, checkpoint_dir)


def stream_static_enrich(
    spark: SparkSession,
    source_dir: str,
    dim_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Stream-static broadcast enrichment: each micro-batch of the
    live stream left-joins a dimension table read from parquet
    (symbol → sector/region metadata).

    The reference enriches per message with a Python dict lookup
    inside the consumer loop (reference kafka-consumer/consumer.py);
    Spark-first that's a broadcast hash join per micro-batch — the
    dim ships once per executor, the stream side never shuffles, and
    rows without dim coverage survive (left join) with NULL metadata.

    Static-side semantics: the dim's FILE LISTING is fixed when the
    frame is planned (InMemoryFileIndex) — a dim rewritten while a
    continuous query runs is NOT picked up (and deleted files fail
    the next batch). For refreshing dims, re-read the dim inside a
    foreachBatch join or restart the query on publish. State: none — unlike stream-stream joins this buffers
    nothing, so it scales with batch size only. Returns the started
    query (availableNow trigger, append parquet sink).
    """
    dim = F.broadcast(spark.read.parquet(dim_path))
    enriched = (
        wire_stream(spark, source_dir)
        .select(
            F.upper("ticker").alias("symbol"),
            "event_time",
            "close",
            "volume",
        )
        .join(dim, "symbol", "left")
    )
    return start_parquet_append(enriched, out_dir, checkpoint_dir)


def windowed_stream_agg(
    parsed: DataFrame,
    *,
    window: str = "1 day",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """T4/T6: late-data-aware tumbling aggregate per symbol.

    The reference has no late-data handling (SURVEY §2.8 T4) — its ES
    upsert just rewrites. Here: event-time watermark bounds state;
    late rows beyond the delay are dropped deterministically.
    """
    return (
        parsed.withWatermark("event_time", watermark_delay)
        .groupBy(
            F.window("event_time", window).alias("win"),
            F.upper("ticker").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("close"), 6).alias("avg_close"),
            F.round(F.sum("volume").cast("double"), 2).alias("total_volume"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "symbol",
            "n_rows",
            "avg_close",
            "total_volume",
        )
    )
