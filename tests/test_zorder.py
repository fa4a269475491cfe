"""Z-order layout (operators/zorder.py): the interleave must match a
bit-twiddling reference, the clustered layout must beat row-order on
bounding-box area (the data-skipping proxy), and a clustered parquet
write must actually prune files for BOTH dimensions."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators.zorder import (
    cluster_by_zvalue,
    zvalue_sql,
)
from finance_etl_system_spark.queries.layout import (
    BITS,
    MASK,
    _EPOCH,
    q_zorder_stats,
)
from tests.column_refs import zvalue
from tests.conftest import SF_SMOKE


def _interleave(a: int, b: int, bits: int) -> int:
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_zvalue_matches_reference_bit_twiddle(spark):
    df = spark.range(0, 500).select(
        (F.col("id") * 7919 % 4096).alias("a"),
        (F.col("id") * 104729 % 4096).alias("b"),
    )
    got = df.select(
        "a", "b", zvalue([F.col("a"), F.col("b")], bits=12).alias("z")
    ).collect()
    for r in got:
        assert r.z == _interleave(r.a, r.b, 12), (r.a, r.b)
    # and the SQL twin is the same expression
    got_sql = df.selectExpr("a", "b", f"{zvalue_sql(['a', 'b'], bits=12)} AS z").collect()
    assert {(r.a, r.b, r.z) for r in got_sql} == {(r.a, r.b, r.z) for r in got}


def _total_box_area(df, bucket_col):
    rows = (
        df.groupBy(bucket_col)
        .agg(
            F.min("ck").alias("c0"),
            F.max("ck").alias("c1"),
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
        )
        .collect()
    )
    return sum((r.c1 - r.c0 + 1) * (r.d1 - r.d0 + 1) for r in rows)


def test_zorder_buckets_have_tighter_boxes_than_row_order(spark):
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        F.col("o_custkey").bitwiseAND(F.lit(MASK)).alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date"))
        .cast("long")
        .bitwiseAND(F.lit(MASK))
        .alias("day"),
    )
    z = F.expr(zvalue_sql(["ck", "day"], bits=BITS))
    zdf = o.withColumn("z", z).withColumn(
        "bucket", F.ntile(16).over(Window.orderBy("z"))
    )
    rdf = o.withColumn("bucket", F.ntile(16).over(Window.orderBy("o_orderkey")))
    z_area = _total_box_area(zdf, "bucket")
    r_area = _total_box_area(rdf, "bucket")
    assert z_area < r_area / 2, (z_area, r_area)


def test_clustered_parquet_files_prune_both_dimensions(spark, tmp_path):
    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_custkey").bitwiseAND(F.lit(MASK)).alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date"))
        .cast("long")
        .bitwiseAND(F.lit(MASK))
        .alias("day"),
    )
    z = F.expr(zvalue_sql(["ck", "day"], bits=BITS))
    out = str(tmp_path / "zorders")
    cluster_by_zvalue(o, z, num_files=8).write.parquet(out)
    spans_c, spans_d = [], []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        cks, days = [], []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                col = g.column(i)
                st = col.statistics
                name = col.path_in_schema
                if name == "ck":
                    cks += [st.min, st.max]
                elif name == "day":
                    days += [st.min, st.max]
        spans_c.append((max(cks) - min(cks) + 1))
        spans_d.append((max(days) - min(days) + 1))
    assert len(spans_c) >= 4
    full_c = MASK + 1
    # every file covers a narrow slice of BOTH dimensions — a
    # predicate on either one skips most files via footer stats
    assert sum(spans_c) < full_c * len(spans_c) / 2, spans_c
    full_d = load_table(spark, SF_SMOKE, "orders").select(
        F.max(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date")
            )
        )
    ).collect()[0][0]
    assert sum(spans_d) < full_d * len(spans_d) / 2, spans_d


def test_zorder_stats_rows(spark):
    rows = q_zorder_stats(spark, SF_SMOKE).collect()
    assert rows and all(
        r.min_cust <= r.max_cust and r.min_day <= r.max_day for r in rows
    )
    assert [r.zbucket for r in rows] == sorted({r.zbucket for r in rows})
