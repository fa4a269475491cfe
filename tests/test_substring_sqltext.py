"""Bit-exactness pins for the r14 SQL-text construction paths in
operators/substring.py (gram positions, span merge, scrub kernel).

Same discipline as tests/test_retrieval_sqltext.py: each converted
piece is compared against the pre-r14 Column formulation rebuilt
verbatim inline, on real fixture documents — schemas equal and
``exceptAll`` empty in BOTH directions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators.substring import (
    _H2_SEED,
    _scrub_with_spans,
    gram_keys,
    repeated_spans,
    scrub_contamination,
    spans_from_flagged,
)
from finance_etl_system_spark.operators.partitioning import (
    spread_for_expansion,
)

from tests.column_refs import _toks
from tests.conftest import SF_SMOKE

K = 8
MIN_COUNT = 2


def _frames_equal(a, b):
    assert a.schema == b.schema, f"{a.schema} != {b.schema}"
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _gram_positions_columns(docs, *, text_col, id_col, k):
    """Pre-r14 Column formulation, verbatim."""
    d = (
        spread_for_expansion(docs, id_col)
        .select(id_col, _toks(text_col).alias("_toks"))
        .filter(F.size("_toks") >= k)
    )
    return d.select(
        id_col,
        "_toks",
        F.explode(
            F.sequence(F.lit(1), F.size("_toks") - (k - 1))
        ).alias("i"),
    ).select(
        id_col,
        "i",
        F.concat_ws(" ", F.slice("_toks", F.col("i"), k)).alias("gram"),
    )


def _spans_from_flagged_columns(flagged, *, id_col="doc_id", k=8):
    """Pre-r14 Column formulation, verbatim."""
    w = Window.partitionBy(id_col).orderBy("i")
    islands = flagged.withColumn(
        "_new",
        F.when(
            F.col("i") - F.lag("i").over(w) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("_island", F.sum("_new").over(w))
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + (k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_tokens"),
        )
    )


def _scrub_with_spans_columns(docs, spans, *, text_col, id_col):
    """Pre-r14 Column formulation, verbatim."""
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    d = docs.select(id_col, _toks(text_col).alias("_toks")).join(
        per_doc, id_col, "left"
    )
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    covered = lambda t: F.exists(  # noqa: E731
        spans_arr,
        lambda sp: (t >= sp["span_start"]) & (t <= sp["span_end"]),
    )
    kept = F.filter(
        F.transform(
            F.col("_toks"),
            lambda x, i: F.struct(x.alias("x"), i.alias("i")),
        ),
        lambda s: ~covered(s["i"] + 1),
    )
    return d.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
            "dup_tokens"
        ),
        F.when(
            F.size("_toks") > 0,
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.size("_toks").cast("double"),
                6,
            ),
        ).alias("dup_ratio"),
        F.concat_ws(
            " ", F.transform(kept, lambda s: s["x"])
        ).alias("clean_text"),
    )


def test_gram_positions_sql_matches_columns(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    new, _ = gram_keys(d, k=K, key="string")
    ref = _gram_positions_columns(d, text_col="text", id_col="doc_id", k=K)
    _frames_equal(new, ref)


def test_gram_keys_hash128_sql_matches_columns(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    new, key_cols = gram_keys(d, k=K, key="hash128")
    assert key_cols == ["_h1", "_h2"]
    ref = _gram_positions_columns(
        d, text_col="text", id_col="doc_id", k=K
    ).select(
        "doc_id",
        "i",
        F.xxhash64("gram").alias("_h1"),
        F.xxhash64(F.lit(_H2_SEED), F.col("gram")).alias("_h2"),
    )
    _frames_equal(new, ref)


def test_spans_sql_matches_columns(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    grams, _ = gram_keys(d, k=K, key="string")
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= MIN_COUNT)
        .select("gram")
    )
    flagged = grams.join(hot, ["gram"]).select("doc_id", "i")
    _frames_equal(
        spans_from_flagged(flagged, id_col="doc_id", k=K),
        _spans_from_flagged_columns(flagged, id_col="doc_id", k=K),
    )


def test_scrub_sql_matches_columns(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    spans = repeated_spans(d, k=K, min_count=MIN_COUNT, key="string")
    _frames_equal(
        _scrub_with_spans(d, spans, text_col="text", id_col="doc_id"),
        _scrub_with_spans_columns(
            d, spans, text_col="text", id_col="doc_id"
        ),
    )


def test_scrub_contamination_end_to_end(spark):
    """Whole-operator smoke: the composed contamination scrub still
    emits the report shape with sane invariants (the per-piece parity
    above pins the values)."""
    d = load_table(spark, SF_SMOKE, "documents")
    out = scrub_contamination(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        k=5,
        key="string",
    ).collect()
    assert out
    for r in out:
        assert r.dup_tokens <= r.n_tokens
        assert (r.n_spans == 0) == (r.dup_tokens == 0)
