"""Streaming OHLC bar building — the live twin of
queries/finance.py::q_ohlc_resample (the reference computes
indicators only in 12-hourly batch ETL, reference
docker/scheduler.py:28-35; a streaming engine builds the bars as
ticks arrive).

Two implementations, deliberately:

- ``stream_ohlc_bars`` — DECLARATIVE: watermark + tumbling window +
  min/max aggregates. open/close use the ``min(struct(ts, price))``
  trick (a plain min over a struct orders by ts first), which keeps
  the whole operator inside Spark's built-in streaming state store —
  no Python in the hot path, RocksDB-backed state, exactly-once with
  checkpointing. This is the 100 TB path.
- ``streaming_ohlc_state`` — IMPERATIVE: the Spark 4
  ``transformWithStateInPandas`` API (StatefulProcessor + MapState),
  maintaining one map entry per open bucket per symbol and emitting a
  bar snapshot whenever a bucket changes. Kept as the template for
  bar semantics the declarative path can't express (e.g. tick-count
  bars, renko) — and as coverage of the newest stateful API.
  NOTE: Spark's transformWithState state server needs the
  ``protobuf`` Python package at runtime; in environments without it
  (this container) the processor logic is still unit-tested directly
  against a fake state handle (tests/test_streaming_bars.py), and the
  end-to-end streaming test auto-skips.

Both emit the same bar schema. Tests (tests/test_streaming_bars.py)
feed identical batches through both and cross-check against pandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from .sinks import file_stream, start_foreach_batch, start_parquet_append

BAR_SCHEMA = (
    "symbol string, bar_start timestamp, open double, high double, "
    "low double, close double, volume long, n_trades long"
)


def stream_ohlc_bars(
    prices: DataFrame,
    *,
    bucket: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Declarative streaming OHLC: one windowed aggregation, fully
    inside the JVM state store. ``prices`` needs columns
    (symbol, event_time, price, volume).

    In append mode a bar is emitted once, when the watermark passes
    its window end — late ticks inside the watermark still repair
    the open bar because the state holds partial min/max structs.
    """
    return (
        prices.withWatermark("event_time", watermark)
        .groupBy("symbol", F.window("event_time", bucket).alias("w"))
        .agg(
            F.min(F.struct("event_time", "price")).alias("first_tick"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct("event_time", "price")).alias("last_tick"),
            F.sum("volume").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            "symbol",
            F.col("w.start").alias("bar_start"),
            F.col("first_tick.price").alias("open"),
            "high",
            "low",
            F.col("last_tick.price").alias("close"),
            "volume",
            "n_trades",
        )
    )


def _make_ohlc_processor(bucket_seconds: int) -> StatefulProcessor:
    """Build the transformWithStateInPandas processor.

    The class is defined LOCALLY on purpose: Spark's transformWithState
    driver worker is a separate Python process that unpickles the
    processor WITHOUT this package on its import path — a module-level
    class would be pickled by reference and crash the worker with
    ModuleNotFoundError. A local class is pickled by value
    (cloudpickle), so the operator works on any driver-provided
    session with no deploy-time PYTHONPATH coupling.
    """
    import pandas as pd  # re-imported in the pickled closure's scope

    class OHLCBarProcessor(StatefulProcessor):
        """MapState keyed by bucket start (epoch seconds) holding the
        running bar; emits a snapshot row for every bucket touched by
        the batch (update semantics)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._bars = handle.getMapState(
                "bars",
                "bucket long",
                "open_k long, open double, high double, low double, "
                "close_k long, close double, volume long, n_trades long",
            )

        def handleInputRows(self, key, rows, timerValues):
            symbol = key[0]
            touched: set[int] = set()
            for pdf in rows:
                if pdf is None or not len(pdf):
                    continue
                ts_us = pdf["event_time"].astype("int64") // 1000  # ns -> us
                buckets = (ts_us // (bucket_seconds * 1_000_000)) * bucket_seconds
                for k_us, bucket, price, vol in zip(
                    ts_us, buckets, pdf["price"], pdf["volume"]
                ):
                    b = int(bucket)
                    cur = (
                        self._bars.getValue((b,))
                        if self._bars.containsKey((b,))
                        else None
                    )
                    p, v, k = float(price), int(vol), int(k_us)
                    if cur is None:
                        self._bars.updateValue((b,), (k, p, p, p, k, p, v, 1))
                    else:
                        ok, o, h, lo, ck, c, tv, n = cur
                        if k < ok:
                            ok, o = k, p
                        if k >= ck:
                            ck, c = k, p
                        self._bars.updateValue(
                            (b,),
                            (ok, o, max(h, p), min(lo, p), ck, c, tv + v, n + 1),
                        )
                    touched.add(b)
            if not touched:
                return
            out = []
            for b in sorted(touched):
                ok, o, h, lo, ck, c, tv, n = self._bars.getValue((b,))
                out.append((symbol, b, o, h, lo, c, tv, n))
            yield pd.DataFrame(
                out,
                columns=[
                    "symbol", "bucket", "open", "high", "low", "close",
                    "volume", "n_trades",
                ],
            )

        def close(self) -> None:
            pass

    return OHLCBarProcessor()


def streaming_ohlc_state(
    prices: DataFrame, *, bucket_seconds: int = 60
) -> DataFrame:
    """Imperative streaming OHLC via transformWithStateInPandas
    (update mode — each touched bar re-emits its current snapshot).
    ``prices`` needs (symbol, event_time, price, volume)."""
    out_schema = (
        "symbol string, bucket long, open double, high double, low double, "
        "close double, volume long, n_trades long"
    )
    return (
        prices.select("symbol", "event_time", "price", "volume")
        .groupBy("symbol")
        .transformWithStateInPandas(
            _make_ohlc_processor(bucket_seconds),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_stream_ohlc(
    spark,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    bucket: str = "1 minute",
    imperative: bool = False,
):
    """File-source wiring for tests/demos: JSON ticks -> bars ->
    parquet sink, availableNow trigger. Returns the started query."""
    # one micro-batch per file, so the watermark advances between batches
    raw = file_stream(
        spark,
        source_dir,
        "symbol STRING, event_time TIMESTAMP, price DOUBLE, volume LONG",
        max_files_per_trigger=1,
    )
    if imperative:
        # transformWithState requires the RocksDB state store provider
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        secs = {"1 minute": 60, "5 minutes": 300, "1 hour": 3600}[bucket]
        bars = streaming_ohlc_state(raw, bucket_seconds=secs)

        # update-mode snapshots can't go to a bare file sink (parquet
        # sinks are append-only): write each batch's snapshots with
        # foreachBatch; readers take the last snapshot per bar
        # (max n_trades) — same dedup-on-read contract as
        # streaming/ingest.py::stream_ingest.
        def _write(batch_df: DataFrame, _bid: int) -> None:
            batch_df.write.mode("append").parquet(out_dir)

        return start_foreach_batch(
            bars, _write, checkpoint_dir, output_mode="update"
        )
    return start_parquet_append(
        stream_ohlc_bars(raw, bucket=bucket), out_dir, checkpoint_dir
    )
