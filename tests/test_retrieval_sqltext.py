"""Bit-exactness pins for the r14 SQL-text construction paths in the
BM25/retrieval family (queries/retrieval.py) and the bruteforce
cosine operator (operators/similarity.py).

The r14 rewrite assembles what used to be py4j Column chains as
JVM-parsed SQL strings (guide §1.2 step 2 — pure driver-time win; the
plan must be unchanged). Each converted piece is compared here
against the pre-r14 Column formulation, rebuilt verbatim inline, on
real fixture data: schemas equal and ``exceptAll`` empty in BOTH
directions, so every value (including the rounded doubles the oracle
hashes) is bit-identical.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators.similarity import cosine_topk_bruteforce
from finance_etl_system_spark.queries.retrieval import (
    B,
    K1,
    QUERY_TERMS,
    STOPWORDS,
    _bm25_scored,
    _per_doc_tf,
    analyze_terms,
    token_array,
)

from tests.column_refs import _as_double, _dot, _norm, _s_stem_col, ws_tokens
from tests.conftest import SF_SMOKE


def _frames_equal(a, b):
    assert a.schema == b.schema, f"{a.schema} != {b.schema}"
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _token_array_columns(text_col, *, analyzed=False):
    """Pre-r14 Column formulation of token_array, verbatim."""
    arr = ws_tokens(text_col)
    if analyzed:
        arr = F.transform(
            F.filter(arr, lambda x: ~x.isin(*STOPWORDS)), _s_stem_col
        )
    return arr


def _per_doc_tf_columns(d, terms, *, analyzed=False):
    """Pre-r14 Column formulation of _per_doc_tf, verbatim."""
    base = d.select("doc_id", "text").select(
        "doc_id",
        _token_array_columns(F.col("text"), analyzed=analyzed).alias("_toks"),
    )
    return base.select(
        "doc_id",
        F.size("_toks").alias("dl"),
        F.array(
            *[
                (F.size("_toks") - F.size(F.array_remove("_toks", t))).cast(
                    "long"
                )
                for t in terms
            ]
        ).alias("tfs"),
    ).filter(F.col("dl") > 0)


def _bm25_scored_columns(d, terms, *, analyzed=False):
    """Pre-r14 Column formulation of _bm25_scored, verbatim (minus
    the localCheckpoint — irrelevant to values)."""
    per_doc = _per_doc_tf_columns(d, terms, analyzed=analyzed)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col("tfs")[i] > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_dl") / F.col("n_docs")
    contribs = []
    hits = []
    for i in range(len(terms)):
        tf = F.col("tfs")[i]
        df = F.col(f"_df{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        contrib = (
            idf
            * tf
            * F.lit(K1 + 1.0)
            / (
                tf
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / avgdl)
            )
        )
        contribs.append(F.when(tf > 0, contrib).otherwise(F.lit(0.0)))
        hits.append(F.when(tf > 0, 1).otherwise(0))
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    n_hit = hits[0]
    for h in hits[1:]:
        n_hit = n_hit + h
    return (
        scored.withColumn("bm25", F.round(total, 6))
        .withColumn("n_terms_hit", n_hit.cast("long"))
        .filter(F.col("n_terms_hit") > 0)
        .select("doc_id", "bm25", "n_terms_hit")
    )


def test_token_array_sql_matches_columns(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    for analyzed in (False, True):
        new = d.select(
            "doc_id", token_array("text", analyzed=analyzed).alias("toks")
        )
        ref = d.select(
            "doc_id",
            _token_array_columns(F.col("text"), analyzed=analyzed).alias(
                "toks"
            ),
        )
        _frames_equal(new, ref)


def test_per_doc_tf_sql_matches_columns(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    for analyzed, terms in (
        (False, QUERY_TERMS),
        (True, analyze_terms(["streams", "merge", "queries"])),
    ):
        _frames_equal(
            _per_doc_tf(d, terms, analyzed=analyzed),
            _per_doc_tf_columns(d, terms, analyzed=analyzed),
        )


def test_bm25_scored_sql_matches_columns(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    for analyzed, terms in (
        (False, QUERY_TERMS),
        (True, analyze_terms(["streams", "merge", "queries"])),
    ):
        _frames_equal(
            _bm25_scored(d, terms, analyzed=analyzed),
            _bm25_scored_columns(d, terms, analyzed=analyzed),
        )


def test_cosine_bruteforce_sql_matches_columns(spark):
    e = load_table(spark, SF_SMOKE, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    new = cosine_topk_bruteforce(queries, e, k=10)
    # pre-r14 Column formulation, verbatim
    q = queries.select(
        F.col("query_id").alias("qid"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        F.round(
            _dot(F.col("qv"), F.col("cv"))
            / (_norm(F.col("qv")) * _norm(F.col("cv"))),
            6,
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    ref = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("qid", "rnk", "cid", "cosine")
    )
    _frames_equal(new, ref)
