"""Data-layout query: Z-order bucket statistics over orders —
per-Morton-bucket row counts and per-dimension min/max bounds, i.e.
exactly the file-skipping statistics a clustered write would give a
scan planner. Oracle-checked (the DuckDB twin runs the identical
unrolled bit-interleave).

Dimensions: customer key and order day (days since 1992-01-01), each
range-reduced to 12 bits; 64 fixed-width buckets over the 24-bit
Morton space. The locality win vs a row-order layout (total bounding-
box area, which is proportional to expected scan work under
single-dimension predicates) is asserted in tests/test_zorder.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.zorder import zvalue_sql

BITS = 12
MASK = (1 << BITS) - 1
BUCKETS = 64
_SHIFT = 2 * BITS  # z-space width
_BUCKET_DIV = 1 << (_SHIFT - 6)  # 64 fixed-width z buckets
_EPOCH = "1992-01-01"


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ck = F.col("o_custkey").bitwiseAND(F.lit(MASK))
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date")).cast(
        "long"
    ).bitwiseAND(F.lit(MASK))
    return (
        o.select(ck.alias("ck"), day.alias("day"))
        .withColumn("z", F.expr(zvalue_sql(["ck", "day"], bits=BITS)))
        .select(
            F.expr(f"z div {_BUCKET_DIV}").cast("long").alias("zbucket"),
            "ck",
            "day",
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("min_cust"),
            F.max("ck").alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
        .orderBy("zbucket")
    )


_CK_SQL = f"(o_custkey & {MASK})"
_DAY_SQL = f"((CAST(o_orderdate AS DATE) - DATE '{_EPOCH}') & {MASK})"

_ZORDER_STATS_SQL = f"""
WITH z AS (
  SELECT {_CK_SQL} AS ck, {_DAY_SQL} AS day,
         {zvalue_sql([_CK_SQL, _DAY_SQL], bits=BITS)} AS z
  FROM orders
)
SELECT CAST(z // {_BUCKET_DIV} AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(ck) AS BIGINT) AS min_cust, CAST(MAX(ck) AS BIGINT) AS max_cust,
       CAST(MIN(day) AS BIGINT) AS min_day, CAST(MAX(day) AS BIGINT) AS max_day
FROM z GROUP BY zbucket ORDER BY zbucket
"""


QUERIES = {"zorder_stats": q_zorder_stats}
ORACLE = {"zorder_stats": _ZORDER_STATS_SQL}
