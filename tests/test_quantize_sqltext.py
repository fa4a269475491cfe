"""Bit-exactness pins for the r14 SQL-text construction paths in
operators/quantize.py (symmetric int8 quantization + the SQ8
exact-rerank projection).

Same discipline as the other *_sqltext pins: each converted piece is
compared against the pre-r14 Column formulation rebuilt verbatim
inline, on real fixture embeddings — schemas equal and ``exceptAll``
empty in BOTH directions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators.quantize import (
    Q_MAX,
    cosine_topk_sq8,
    quantize_int8,
)

from tests.column_refs import _as_double, _dot, _norm
from tests.conftest import SF_SMOKE


def _frames_equal(a, b):
    assert a.schema == b.schema, f"{a.schema} != {b.schema}"
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _quantize_int8_columns(df, vec_col="embedding", *, out_codes="qv",
                           out_scale="q_scale"):
    """Pre-r14 Column formulation, verbatim."""
    v = _as_double(F.col(vec_col))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = maxabs / F.lit(float(Q_MAX))
    codes = F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0).cast("long")).otherwise(
            F.floor(x / scale + F.lit(0.5))
        ),
    )
    return df.withColumn(out_scale, scale).withColumn(out_codes, codes)


def test_quantize_int8_sql_matches_columns(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    _frames_equal(quantize_int8(e), _quantize_int8_columns(e))


def test_sq8_exact_rerank_matches_columns(spark):
    """SQ8 search vs a reference whose exact-rerank block is the
    pre-r14 Column formulation, over the WHOLE rerank-50 survivor set
    (the coarse pandas-UDF pass is shared code, so any divergence
    isolates to the converted projection). With k == rerank every
    survivor comes back, so the survivor set is read off that call;
    a divergence on survivors ranked 11-50 fails here even when it
    would not change the top 10."""
    from pyspark.sql import Window

    e = load_table(spark, SF_SMOKE, "embeddings")
    queries = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rerank = 50
    new_all = cosine_topk_sq8(queries, e, k=rerank, rerank=rerank)
    new = cosine_topk_sq8(queries, e, k=10, rerank=rerank)

    coarse = new_all.select("qid", "cid", "coarse")
    per_q = {r["qid"]: r["n"] for r in coarse.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per_q == {q: rerank for q in range(4)}, per_q
    qv = queries.select(
        F.col("query_id").alias("qid"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    cv = e.select(
        F.col("vec_id").alias("cid"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    ref = (
        cv.join(F.broadcast(coarse), "cid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "cid",
            "coarse",
            F.round(
                F.try_divide(
                    _dot(F.col("qv"), F.col("cv")),
                    _norm(F.col("qv")) * _norm(F.col("cv")),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    ref = ref.withColumn("rnk", F.row_number().over(w)).select(
        "qid", "rnk", "cid", "cosine", "coarse"
    )
    _frames_equal(new_all, ref)
    _frames_equal(new, ref.filter(F.col("rnk") <= 10))


def test_quantize_audit_cosine_matches_columns(spark):
    """``embedding_quantize_int8``'s ``cos_dq`` comes from the shared
    safe cosine text; on fixture vectors (none has zero norm) it is
    bit-equal to the plain-division Column formulation it replaced."""
    from finance_etl_system_spark.queries.similarity import (
        q_embedding_quantize_int8,
    )

    got = q_embedding_quantize_int8(spark, SF_SMOKE)
    v = _as_double(F.col("embedding"))
    dq = F.transform(F.col("qv"), lambda q: q.cast("double") * F.col("q_scale"))
    ref = quantize_int8(load_table(spark, SF_SMOKE, "embeddings")).select(
        "vec_id",
        F.round(_dot(v, dq) / (_norm(v) * _norm(dq)), 6).alias("cos_dq"),
    )
    _frames_equal(got.select("vec_id", "cos_dq"), ref)


@pytest.mark.parametrize("ansi", [True, False], ids=["ansi", "no_ansi"])
def test_quantize_audit_zero_vector_scores_null(spark, tmp_path, ansi):
    """An all-zero embedding quantizes to scale 0 and all-zero codes;
    its ``cos_dq`` is NULL under either ANSI setting instead of raising
    DIVIDE_BY_ZERO."""
    from finance_etl_system_spark.functions.confs import session_conf
    from finance_etl_system_spark.queries.similarity import (
        q_embedding_quantize_int8,
    )

    spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 2.0], 1)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    with session_conf(spark, "spark.sql.ansi.enabled", str(ansi).lower()):
        rows = {
            r.vec_id: r
            for r in q_embedding_quantize_int8(spark, str(tmp_path)).collect()
        }
    assert rows[0].cos_dq is None
    assert rows[0].scale_q == 0.0 and rows[0].max_abs_err == 0.0
    assert 0.99 < rows[1].cos_dq <= 1.0
