"""Sources and sinks (SURVEY §2.1 S1-S12) re-expressed Spark-first.

| Ref | Reference behavior                                   | Here |
|-----|------------------------------------------------------|------|
| S2  | CSV symbol list w/ fallback (crawler/fetch_utils.py:39-114) | ``read_symbol_csv`` |
| S3  | Kafka producer, key=ticker, JSON value (crawler.py:113-137) | ``to_kafka_frame`` |
| S5  | Mongo scan + $match pushdown (etl_job.py:174-185)    | parquet scan + filter (catalog) |
| S6/S7 | Mongo append / ES upsert sinks (etl_job.py:389-460) | idempotent sink (pipeline/etl.py) |
| S8  | CSV backup dump (crawler.py:53-73)                   | ``write_csv_backup`` |
| S12 | collection discovery via regex (etl_job.py:46-87)    | ``discover_tables`` |

Scale notes: CSV/JSON readers take explicit schemas (no inference scan
at 100 TB); the Kafka frame is pure column ops (to_json of a struct —
JVM-side, streaming-compatible).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SYMBOLS = ["AAPL", "MSFT", "GOOG", "AMZN", "TSLA"]


def read_symbol_csv(
    spark: SparkSession,
    path: str | None,
    *,
    symbol_col: str = "Symbol",
    fallback: list[str] | None = None,
) -> DataFrame:
    """S2: read the symbol universe from a CSV's ``Symbol`` column,
    falling back to the built-in list when the file is absent/broken —
    the reference's Google-Drive-CSV-with-fallback shape
    (reference crawler/fetch_utils.py:75-114)."""
    fallback = fallback or DEFAULT_SYMBOLS
    if path:
        try:
            df = spark.read.csv(path, header=True)
            if symbol_col in df.columns:
                out = (
                    df.select(F.upper(F.trim(F.col(symbol_col))).alias("symbol"))
                    .filter(F.col("symbol") != "")
                    .distinct()
                )
                if not out.isEmpty():
                    return out
        except Exception:  # noqa: BLE001 — fall through to default list
            pass
    return spark.createDataFrame([(s,) for s in fallback], "symbol STRING")


def to_kafka_frame(
    df: DataFrame, *, key_col: str = "ticker", value_cols: list[str] | None = None
) -> DataFrame:
    """S3: shape rows into the Kafka wire format the reference produces
    (key=ticker, value=JSON of the record, crawler.py:126-133). The
    result plugs into ``.write.format("kafka")`` or the file-source
    twin unchanged."""
    cols = value_cols or [c for c in df.columns]
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
    )


def write_csv_backup(df: DataFrame, path: str, *, partition_col: str | None = None) -> None:
    """S8: CSV dump (header on), optionally partitioned — the
    reference's per-symbol backup files (crawler.py:53-73)."""
    w = df.write.mode("overwrite").option("header", "true")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.csv(path)


def read_binary_assets(spark: SparkSession, path: str, *, glob: str = "*") -> DataFrame:
    """X3 ingest edge: raw files -> (path, modificationTime, length,
    content) via the binaryFile source, mapped onto the multimodal
    asset layout (`operators/multimodal.py::ASSET_SCHEMA` columns are
    derived downstream; the deterministic asset_id is a hash of the
    path, not a counter — stable under re-listing and parallel read).
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return raw.select(
        F.xxhash64("path").alias("asset_id"),
        F.col("path").alias("source_uri"),
        F.col("length").alias("content_length"),
        F.col("content"),
    )


def write_read_orc(df: DataFrame, path: str, spark: SparkSession) -> DataFrame:
    """ORC interchange (S-family completeness next to parquet/CSV/JSON):
    columnar sink + scan with the same pushdown/pruning properties."""
    df.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


def discover_tables(
    base_dir: str, pattern: str = r"^([a-z_]+)\.parquet$"
) -> list[str]:
    """S12: directory-listing discovery — the Spark-side analogue of the
    reference's ``list_collection_names()`` + regex
    ``^stock_([A-Z.]+)$`` (reference etl_job.py:46-87)."""
    rx = re.compile(pattern)
    names = []
    try:
        for entry in sorted(os.listdir(base_dir)):
            m = rx.match(entry)
            if m:
                names.append(m.group(1))
    except FileNotFoundError:
        return []
    return names


def discover_symbols(df: DataFrame, *, symbol_col: str = "symbol") -> DataFrame:
    """S12 variant: symbol universe from data itself (distinct keys) —
    replaces collection-name scraping with a metadata-cheap distinct."""
    return df.select(F.col(symbol_col)).distinct()


def read_with_schema_evolution(
    spark: SparkSession,
    path: str,
    *,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Schema-evolution read: union the schemas of every parquet
    generation under ``path`` (``mergeSchema``) and backfill columns
    absent from older files.

    The reference handles drift defensively at runtime — it re-checks
    ``actual_columns`` per batch and silently drops what's missing
    (reference spark-job/etl_job.py:218-221). Spark-first, drift is a
    METADATA property: footer merge unions all generations' schemas,
    old files yield NULL for later columns, and ``defaults`` turns
    those NULLs into declared values (coalesce — never touching rows
    that carry real data).

    Scale: mergeSchema reads footers, not data — cost scales with file
    COUNT. At 100 TB with many small generations, pair it with
    pipeline/etl.py::compact_partitions so footer listing stays cheap,
    or persist the merged schema to the catalog and pass it explicitly.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for col, default in (defaults or {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
        else:
            df = df.withColumn(col, F.lit(default))
    return df


def write_read_xml(df: DataFrame, path: str, spark: SparkSession, *, row_tag: str = "row") -> DataFrame:
    """XML interchange (Spark 4 native XML source — S-family
    completeness next to parquet/ORC/CSV/JSON): columnar engines meet
    XML at ingest edges (vendor feeds, regulatory filings); read it
    once with an explicit rowTag, then persist to parquet. Schema is
    inferred per-tag here; production feeds should pass an explicit
    schema the same way catalog.load_table does for parquet."""
    df.write.option("rootTag", "rows").option("rowTag", row_tag).format(
        "xml"
    ).mode("overwrite").save(path)
    return spark.read.option("rowTag", row_tag).format("xml").load(path)
