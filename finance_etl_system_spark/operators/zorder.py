"""Z-order (Morton) clustering for multi-dimensional data skipping.

Parquet scans prune row groups / files by min-max statistics, but
min-max only helps along the physical sort order: a table sorted by
customer prunes customer predicates and nothing else. Interleaving
the bits of TWO (or more) dimensions into one Morton key and
range-clustering on it gives every file a tight bounding BOX in all
dimensions at once — the standard layout trick (Delta/Iceberg
OPTIMIZE ZORDER BY) for fact tables queried along independent axes.

The reference has no layout management at all (it rewrites whole
symbol partitions, `/root/reference/spark-job/etl_job.py` write
path); this is part of the scan-efficiency tier.

Everything is pure long arithmetic (shift/and/or), unrolled to
``bits`` terms per dimension — whole-stage codegen, engine-portable
(the DuckDB oracle runs the identical expression), replay-stable.

Scale posture: the Morton key is a projection (free at scan speed);
clustering is ONE repartitionByRange (sampled range boundaries) +
in-partition sort — the same shuffle any global sort pays, amortized
once at write time to make every later scan cheaper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def zvalue_sql(exprs: list[str], *, bits: int) -> str:
    """Interleave the low ``bits`` bits of each (long, non-negative,
    already range-reduced) expression: result bit ``b*len(exprs)+i``
    is bit ``b`` of ``exprs[i]``. Fits in a long for bits*len(exprs)
    <= 63. The one source for Spark (``F.expr``) and the DuckDB
    oracle alike."""
    if bits * len(exprs) > 63:
        raise ValueError("interleaved key must fit in a signed long")
    # every term fully parenthesized: Postgres-style engines give
    # &, |, <<, >> ONE shared precedence level (left-associative), so
    # an unparenthesized `a << 1 | b << 2` folds the OR into a shift
    terms = [
        f"(((({e}) >> {b}) & 1) << {b * len(exprs) + i})"
        for i, e in enumerate(exprs)
        for b in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def cluster_by_zvalue(
    df: DataFrame, z: Column, *, num_files: int
) -> DataFrame:
    """Range-cluster rows by Morton key so each output file covers a
    tight multi-dimensional bounding box. Write the result with a
    plain ``.write.parquet`` — one file per partition, min-max file
    stats then prune on EVERY interleaved dimension."""
    return df.withColumn("_z", z).repartitionByRange(
        num_files, "_z"
    ).sortWithinPartitions("_z").drop("_z")
