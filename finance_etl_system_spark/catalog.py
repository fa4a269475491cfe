"""Table catalog: explicit schemas + Parquet registry.

The reference infers schema from Mongo sampling and then defensively
re-checks columns at runtime (reference spark-job/etl_job.py:185,
218-221). The new engine inverts that: every table has an explicit
``StructType`` contract here, validated at load. ``infer`` mode remains
available for ad-hoc ingest.

Tables are the driver's synthetic star schema (TESTDATA.md) plus the
engine's own domain tables (OHLCV raw/processed, watermarks, models)
defined in pipeline modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.sqltext import pin_sql_text_conf

# Driver star-schema tables (FIXTURES.md §B). Identical across scale
# factors; one parquet file per table under the sf dir.
STAR_SCHEMA: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(STAR_SCHEMA)

# Inferred-schema memo (r14, guide §1.2/§6): ``spark.read.parquet``
# runs a footer-inference JOB per call (~0.1 s locally, a metadata
# round trip at scale), and every query builder re-loads its tables
# per invocation — the bench measured ~2-6 such jobs inside EVERY
# query's timed region. The physical schema of an immutable fixture
# never changes, so memoize it per (path, mtime, size) and hand the
# reader the pinned schema: byte-identical plans minus the inference
# job. This caches METADATA only, never data or results; a fresh
# process re-reads the footer on first touch, and the mtime/size key
# invalidates on any rewrite. (Spark itself memoizes file listings
# the same way — FileStatusCache.)
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def _source_schema(spark: SparkSession, path: str) -> T.StructType:
    import os

    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None and key in _SCHEMA_CACHE:
        return _SCHEMA_CACHE[key]
    schema = spark.read.parquet(path).schema
    if key is not None:
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    validate: bool = False,
) -> DataFrame:
    """Scan one star-schema table from ``sf_dir``.

    Parquet carries its own exact schema, so we read it directly (the
    footer is authoritative and Catalyst prunes columns/row-groups from
    it). ``validate=True`` additionally asserts the column contract —
    the engine equivalent of the reference's runtime required-column
    check (reference etl_job.py:218-221), but failing fast instead of
    logging and limping on.
    """
    if name not in STAR_SCHEMA:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    # The driver may hand us an arbitrary SparkSession; these confs are
    # runtime-settable and required for correct scans regardless of how
    # the session was built: NANOS timestamps (events.ts) read as long,
    # and UTC so timestamp formatting matches the (naive-UTC) fixture
    # data and the DuckDB oracle. The query built on this scan parses
    # engine SQL text, so the parser conf is pinned here as well.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pin_sql_text_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_source_schema(spark, path)).parquet(path)
    # events.ts is TIMESTAMP(NANOS) in the fixture parquet; with
    # spark.sql.legacy.parquet.nanosAsLong it arrives as ns-since-epoch.
    # Truncate to microseconds exactly like DuckDB does so oracle
    # comparisons agree.
    for f in df.schema.fields:
        expect = STAR_SCHEMA[name][f.name].dataType if f.name in STAR_SCHEMA[name].names else None
        if isinstance(expect, T.TimestampType) and isinstance(f.dataType, T.LongType):
            df = df.withColumn(f.name, F.timestamp_micros(F.expr(f"{f.name} DIV 1000")))
        elif isinstance(expect, T.TimestampType) and isinstance(
            f.dataType, T.TimestampNTZType
        ):
            # parquet writers differ: pandas/arrow yield TIMESTAMP_LTZ,
            # DuckDB yields TIMESTAMP_NTZ. Normalize to the catalog's
            # TimestampType — identity on wall-clock under the UTC
            # session pinned above.
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    if validate:
        expected = [f.name for f in STAR_SCHEMA[name].fields]
        missing = [c for c in expected if c not in df.columns]
        if missing:
            raise ValueError(f"table {name!r} missing columns {missing}")
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every star-schema table as a temp view for Spark SQL.

    Mirrors the reference's Mongo logical view registration
    (reference mongo-setup/mongo_init.py:112-137) — Spark's equivalent
    is ``createOrReplaceTempView`` (SURVEY §1.1).
    """
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_stats(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    min_max_cols: list[str] | None = None,
) -> dict:
    """Metadata-cheap table profile: COUNT(*) plus MIN/MAX of numeric
    columns answered from PARQUET FOOTERS (aggregate pushdown,
    `PushedAggregation` in the scan) — no row is decoded.

    At 100 TB this is the difference between a statistics probe that
    reads footers (seconds) and one that scans the table (hours); use
    it for freshness checks, partition sanity, and join-side sizing
    before picking a broadcast. Requires the v2 parquet source, so the
    two confs are flipped for the duration of the call and restored
    (the rest of the engine keeps the session's defaults).
    """
    if name not in STAR_SCHEMA:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    # restore-or-unset: a conf the session never SET explicitly must be
    # unset afterwards (re-setting its default would pin it explicitly).
    # conf.get() returns the BUILT-IN default for registered confs, so
    # it can't detect "never set" — probe the session's explicit
    # settings map via the JVM RuntimeConfig instead.
    jconf = spark._jsparkSession.conf()
    prev = {
        k: (spark.conf.get(k) if jconf.contains(k) else None) for k in confs
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        aggs = [F.count(F.lit(1)).alias("row_count")]
        for c in min_max_cols or []:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        row = df.agg(*aggs).collect()[0]
        return row.asDict()
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
