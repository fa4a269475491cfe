"""Training-shard export: the delivery end of the corpus pipeline
(pipeline/corpus.py builds the corpus; THIS ships it to the trainer).

Trainers consume fixed-count JSONL shards with a manifest — not a
parquet directory with arbitrary file splits — so the export
controls sharding explicitly:

- shard id = pmod(xxhash64(id), n_shards): content-addressed and
  deterministic, so a re-export after an idempotent pipeline replay
  produces identical shard membership and identical per-shard row
  order (sortWithinPartitions below);
- the write hash-repartitions on the shard column and lays rows out
  as ``shard=N/`` dirs via partitionBy. A task can carry MORE THAN
  ONE shard (hash buckets collide; ~1/e of tasks sit empty at
  n_shards == tasks), so for a wide write pick
  n_shards ≳ 2–3× cluster cores; each shard still lands wholly in
  one task, written in deterministic (shard, id) order;
- ``{path}/meta`` records the id column's type so the reader never
  guesses (a hardcoded bigint would silently NULL string ids);
- ``{path}/manifest`` (one row per shard, INCLUDING empty shards
  with n_docs = 0 — empty shards write no dir, consumers iterate the
  manifest, not the directory listing) is aggregated from the
  WRITTEN shards, so it describes what is actually on disk even if
  the source frame changes between actions.

Scale: the shard shuffle is ONE hash exchange of the final corpus
(unavoidable — shard membership is a global property); the manifest
pass re-reads the written JSONL once (no re-hash of the source). No
driver-side anything: the manifest is a |shards|-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.generations import read_state

_META_SCHEMA = "id_type string, n_shards int"


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Export (id, text) as ``{path}/shards/shard=N/`` JSONL plus
    ``{path}/meta`` and ``{path}/manifest``; returns the manifest
    frame (one row per shard, empty shards included)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.json()
    sharded = df.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(f"{path}/shards")
    )
    spark.createDataFrame(
        [(id_type, int(n_shards))], _META_SCHEMA
    ).write.mode("overwrite").parquet(f"{path}/meta")
    # manifest FROM the written shards (describes the bytes on disk),
    # padded to every shard id so the fixed-count contract is explicit
    written = (
        read_jsonl_shards(spark, path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
    )
    all_shards = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    manifest = (
        all_shards.join(written, "shard", "left")
        .select(
            "shard",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        )
        .orderBy("shard")
    )
    manifest.write.mode("overwrite").parquet(f"{path}/manifest")
    return spark.read.parquet(f"{path}/manifest").orderBy("shard")


def read_jsonl_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read an exported shard set back with the EXPORTED id type (from
    the meta table; shard is restored from the directory layout). A
    pre-meta export keeps the original bigint contract."""
    meta = read_state(spark, f"{path}/meta", _META_SCHEMA).head()
    id_type = (
        T.LongType()
        if meta is None
        else T._parse_datatype_json_string(meta["id_type"])
    )
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("text", T.StringType()),
            T.StructField("shard", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).json(f"{path}/shards")


def validate_shard_export(spark: SparkSession, path: str) -> DataFrame:
    """Integrity check the trainer runs before a job: re-count the
    shards and compare against the manifest (empty shards legitimately
    have no dir — they must still appear in the manifest with 0).
    Returns the per-shard verdict frame."""
    actual = (
        read_jsonl_shards(spark, path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("actual_docs"),
            F.sum(F.length("text")).alias("actual_chars"),
        )
    )
    manifest = spark.read.parquet(f"{path}/manifest")
    return (
        manifest.join(actual, "shard", "full")
        .select(
            "shard",
            "n_docs",
            F.coalesce("actual_docs", F.lit(0)).alias("actual_docs"),
            "n_chars",
            F.coalesce("actual_chars", F.lit(0)).alias("actual_chars"),
            (
                F.coalesce(F.col("n_docs"), F.lit(-1))
                == F.coalesce(F.col("actual_docs"), F.lit(0))
            ).alias("docs_match"),
            (
                F.coalesce(F.col("n_chars"), F.lit(-1))
                == F.coalesce(F.col("actual_chars"), F.lit(0))
            ).alias("chars_match"),
        )
        .orderBy("shard")
    )
