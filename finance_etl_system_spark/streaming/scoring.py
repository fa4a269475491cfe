"""Streaming model scoring: the engine-side twin of the reference's
serving path (FastAPI ``GET /predict/{symbol}`` loads a pickled model
per request, reference ml-service/prediction_api.py:107-130).

Spark-first, serving is a stream-static plan: the live feature stream
left-joins the (broadcast) model registry and applies coefficients as
COLUMN ARITHMETIC — the same score_ols math as batch (pipeline/ml.py),
no Python model object, no per-request loads. Rows whose key has no
model pass through with NULL prediction (callers route them to a
fallback, mirroring the API's 404 branch).

Scale: the registry is |groups| rows and broadcasts; the stream side
never shuffles and holds no state — throughput is bounded by the sink,
not the scorer. Model refresh requires a query
restart (or a foreachBatch re-read): the registry's file listing is
fixed at planning time — same static-side semantics as
stream_static_enrich.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .ingest import wire_stream
from .sinks import start_foreach_batch, start_parquet_append, write_batch


def stream_score(
    spark: SparkSession,
    source_dir: str,
    registry_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    feature_cols: list[str] = ("close", "volume"),
):
    """Score a live OHLCV stream against the OLS model registry.

    Registry schema: (group_key, coefficients array<double>, intercept
    double, ...) as written by pipeline/ml.py::save_model_registry.
    Returns the started query (availableNow trigger, append sink).
    """
    models = F.broadcast(
        spark.read.parquet(registry_path).select(
            F.col("group_key").alias("symbol"), "coefficients", "intercept"
        )
    )
    feats = wire_stream(spark, source_dir).select(
        F.upper("ticker").alias("symbol"),
        "event_time",
        *feature_cols,
    )
    scored = feats.join(models, "symbol", "left").withColumn(
        "prediction",
        F.when(
            F.col("intercept").isNotNull(),
            F.round(
                F.col("intercept")
                + sum(
                    F.col("coefficients")[i] * F.col(c)
                    for i, c in enumerate(feature_cols)
                ),
                6,
            ),
        ),
    ).drop("coefficients", "intercept")
    return start_parquet_append(scored, out_dir, checkpoint_dir)


def stream_score_best_model(
    spark: SparkSession,
    source_dir: str,
    registry_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    group_col: str = "symbol",
    feature_cols: list[str] = ("close", "volume"),
):
    """Streaming serving from the UNIFIED cross-family registry
    (pipeline/ml.py unify_registries): each micro-batch is scored by
    the argmax-r2 winner per key — linear winners as column
    arithmetic, tree winners deserialized from blobs — via
    serve_best_model inside foreachBatch. The reference's
    get_best_model-then-predict per request
    (ml-service/prediction_api.py:107-130), as one batch plan per
    micro-batch instead of a per-request load.

    The sink is partitioned by batch_id with dynamic-partition
    overwrite, so crashed-batch retries are idempotent (same contract
    as streaming/quality.py). The registry file listing is read once
    at start — restart to refresh, like stream_score. Rows whose key
    has no model are DROPPED (inner-join serving semantics); route
    the source through a left-anti fallback if 404s must surface.
    """
    from ..pipeline.ml import serve_best_model

    registry = spark.read.parquet(registry_path)
    feats = wire_stream(spark, source_dir).select(
        F.upper("ticker").alias(group_col), "event_time", *feature_cols
    )

    def fb(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = serve_best_model(
            batch_df,
            registry,
            group_col=group_col,
            feature_cols=list(feature_cols),
            blob_strategy="broadcast",  # registry is dim-sized here
        )
        write_batch(scored, batch_id, out_dir)

    return start_foreach_batch(feats, fb, checkpoint_dir)
