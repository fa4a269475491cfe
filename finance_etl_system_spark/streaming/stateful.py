"""Custom stateful streaming operator (SURVEY §2.8/§2.9 + north-star
"custom stateful operators via applyInPandasWithState").

Exact recursive EMA over a live stream: the one indicator a Catalyst
window cannot express (y_t = (1-α)·y_{t-1} + α·x_t) — in batch we use
``applyInPandas`` (pipeline/indicators.py); here the streaming twin
keeps per-key state (last EMA + last event time) in the state store,
so results across micro-batches are identical to a single batch pass.

Scale notes: state is O(1) per key (two floats + a timestamp); keys
hash-partition across executors; a state TTL guards unbounded key
churn. No driver involvement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .sinks import start_parquet_append

EMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("ema", T.DoubleType()),
    ]
)

_STATE_SCHEMA = "ema DOUBLE, n LONG"


def _ema_update_factory(span: int, ttl_ms: int | None):
    alpha = 2.0 / (span + 1.0)

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        # timeout-processing invocations arrive with an EMPTY iterator;
        # pd.concat would raise and crash the worker (tasks then retry
        # forever) — bail out quietly instead.
        frames = [p for p in pdfs if p is not None and len(p)]
        if not frames:
            if state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        ema, n = state.get if state.exists else (None, 0)
        rows = pd.concat(frames).sort_values(["event_time"])
        out_ema = []
        for x in rows["close"]:
            if ema is None:
                ema = float(x)
            else:
                ema = (1.0 - alpha) * ema + alpha * float(x)
            n += 1
            out_ema.append(ema)
        state.update((float(ema), int(n)))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "symbol": key[0],
                "event_time": rows["event_time"],
                "close": rows["close"],
                "ema": out_ema,
            }
        )

    return update


def streaming_ema(
    parsed: DataFrame, *, span: int = 12, state_ttl_ms: int | None = None
) -> DataFrame:
    """Per-symbol exact EMA over a stream of parsed ingest records
    (streaming/ingest.py::parse_kafka_records shape). Works identically
    on a batch frame for tests — but the streaming path maintains
    cross-batch state, which the tests verify against pandas ewm."""
    keyed = parsed.select(
        F.upper("ticker").alias("symbol"),
        F.col("event_time"),
        F.col("close").cast("double").alias("close"),
    )
    # NOTE: a processing-time TTL keeps an availableNow query ALIVE
    # waiting to fire future timeouts — it never terminates. TTL is
    # therefore opt-in, for continuously-running deployments where
    # key churn would grow state without bound.
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("symbol").applyInPandasWithState(
        _ema_update_factory(span, state_ttl_ms),
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def run_streaming_ema(
    spark,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    span: int = 12,
):
    """File-source wiring: JSON messages -> parse -> stateful EMA ->
    parquet sink. availableNow trigger; returns the started query."""
    from .ingest import wire_stream

    return start_parquet_append(
        streaming_ema(wire_stream(spark, source_dir), span=span),
        out_dir,
        checkpoint_dir,
    )
