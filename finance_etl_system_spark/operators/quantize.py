"""Scalar int8 quantization of embedding columns (SURVEY §2.10 X2
adjunct — the memory-side half of similarity search at scale).

A 100 TB embedding corpus at float32 is 4 bytes/dim; symmetric int8
scalar quantization cuts that 4x (plus a per-vector scale), which is
the difference between an ANN index fitting in cluster RAM or not.
This module implements the standard symmetric scheme

    scale = max_i |v_i| / 127,   q_i = floor(v_i / scale + 0.5)

entirely with JVM array expressions (``transform`` / ``aggregate`` /
``zip_with``) — no Python in the row path, so quantization runs inside
whole-stage codegen and is embarrassingly parallel (zero shuffles).

``floor(x + 0.5)`` is used instead of ``round`` deliberately: its
semantics are identical in every engine (Spark, DuckDB, numpy), while
round-half-to-even vs half-up differs — keeping the quantized codes
bit-reproducible across engines is what lets the oracle check the
whole pipeline value-exactly.

Reference parity note: the reference system has no quantization tier
(its ES vectors stay float); this is part of the mandated
training-data-pipeline extension surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident
from .similarity import as_double_sql, exact_rerank, rank_per_query

Q_MAX = 127


def _round_half_away(a: np.ndarray, digits: int = 6) -> np.ndarray:
    """Round half AWAY from zero at ``digits`` decimals — the
    semantics of Spark's F.round (BigDecimal HALF_UP) and DuckDB's
    ROUND. np.round is round-half-to-EVEN, so a score landing on the
    half boundary (e.g. 2.5e-6) diverges between a numpy coarse pass
    and the JVM/DuckDB oracle: np.round -> 2e-6, both engines ->
    3e-6. Verified: duckdb ROUND(2.5e-6, 6) = 3e-6. NaN/inf pass
    through unchanged (callers map non-finite to NULL)."""
    p = 10.0 ** digits
    with np.errstate(invalid="ignore"):
        return np.sign(a) * np.floor(np.abs(a) * p + 0.5) / p


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    out_codes: str = "qv",
    out_scale: str = "q_scale",
) -> DataFrame:
    """Add symmetric-int8 codes and the per-vector scale.

    All-zero vectors quantize to all-zero codes with scale 0 (the
    CASE guard mirrors the SQL oracle exactly). Codes are longs in
    [-127, 127]; a sink can cast to byte for storage.

    The two expressions parse JVM-side from strings (r14, guide §1.2
    step 2 — the Column chain cost ~15 py4j round trips incl. two
    lambda registrations per call); the trees are identical (the
    scale subtree is duplicated inside the codes lambda either way —
    Catalyst expressions have no DAG sharing). Parity pinned in
    tests/test_quantize_sqltext.py."""
    v = as_double_sql(vec_col)
    scale = f"array_max(transform({v}, x -> abs(x))) / {float(Q_MAX)!r}D"
    codes = (
        f"transform({v}, x -> CASE WHEN {scale} = 0"
        f" THEN CAST(0 AS BIGINT)"
        f" ELSE floor(x / ({scale}) + 0.5D) END)"
    )
    return df.withColumns(
        {out_scale: F.expr(scale), out_codes: F.expr(codes)}
    )


def dequantize_sql(codes: str, scale: str) -> str:
    """Reconstruct doubles from int8 codes: q_i * scale."""
    return (
        f"transform({sql_ident(codes)}, q -> CAST(q AS DOUBLE)"
        f" * {sql_ident(scale)})"
    )


def cosine_topk_sq8(
    queries: "DataFrame",
    corpus: "DataFrame",
    *,
    k: int = 10,
    rerank: int = 50,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """Scalar-quantized (SQ8) similarity search: int8 coarse scoring,
    exact float rerank — the FAISS-SQ8 pattern in pure DataFrame ops.

    The coarse cosine needs NO float vector data at all:

        cos ≈ Σ q_i c_i / sqrt(Σ q_i² · Σ c_i²)

    (the per-vector scales cancel), so the scan-side work is integer
    multiply-adds over int8 codes, and the corpus can be stored 4×
    smaller with the float vectors fetched only for the ≤``rerank``
    survivors per query. Integer dots are EXACT in any order, which is
    why even the coarse tier oracle-checks value-identically across
    engines.

    The coarse pass is ONE Arrow-batched pandas UDF per corpus
    partition: quantize + all |queries| integer dots as a single
    numpy int64 matmul against the collected query-code matrix
    (query-sized collect — the permissible class). The earlier
    all-JVM form (crossJoin + per-element ``aggregate`` folds) walked
    10k×64 interpreted higher-order-function steps and measured 1.4 s
    at sf0.1 vs 0.43 s for the matmul — the same Arrow-matmul
    precedent as operators/dedup.py's wide-signature UDF. numpy
    float64 reproduces the JVM quantization bit-for-bit (verified
    0 mismatches in 10,000 coarse scores; the oracle pins it per
    run), because both compute max|v|/127 and floor(v/scale + 0.5)
    in IEEE doubles.

    Plan shape: corpus never shuffles (one UDF pass + posexplode),
    coarse top-``rerank`` per query via window, exact cosine on
    survivors only, top-``k`` (operators/similarity's shared
    ``rank_per_query`` and ``exact_rerank``).
    """
    # query codes: JVM quantize, |queries|-row collect
    qrows = (
        quantize_int8(queries, vec_col, out_codes="c", out_scale="s")
        .select(F.col(query_id).alias("qid"), "c")
        .collect()
    )
    qids = [r["qid"] for r in qrows]
    qcodes = np.array([r["c"] for r in qrows], dtype=np.int64)
    qn2 = (qcodes * qcodes).sum(axis=1)

    @F.pandas_udf("array<double>")
    def coarse_scores(vecs: pd.Series) -> pd.Series:
        x = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        scale = np.abs(x).max(axis=1) / float(Q_MAX)
        safe = np.where(scale == 0, 1.0, scale)
        codes = np.floor(x / safe[:, None] + 0.5).astype(np.int64)
        codes[scale == 0] = 0
        dots = codes @ qcodes.T
        n2 = (codes * codes).sum(axis=1)
        denom = np.sqrt(np.outer(n2, qn2).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            sc = _round_half_away(dots / denom, 6)
        finite = np.isfinite(sc)
        if finite.all():
            return pd.Series(list(sc))
        # zero-norm vectors: 0/0 is NaN here but NULL under the JVM
        # division this UDF replaced; NaN sorts ABOVE every real
        # double in a desc window (it would steal a rerank slot for
        # every query), NULL sorts last — restore the NULL semantics
        out = []
        for row, ok in zip(sc, finite):
            if ok.all():
                out.append([float(v) for v in row])
            else:
                out.append(
                    [float(v) if f else None for v, f in zip(row, ok)]
                )
        return pd.Series(out)

    qid_lit = F.array(*[F.lit(q) for q in qids])
    coarse_scored = (
        corpus.select(
            F.col(corpus_id).alias("cid"),
            coarse_scores(F.col(vec_col)).alias("_sc"),
        )
        .select("cid", F.posexplode("_sc").alias("_qpos", "coarse"))
        .select(
            F.element_at(qid_lit, F.col("_qpos") + 1).alias("qid"),
            "cid",
            "coarse",
        )
    )
    return exact_rerank(
        rank_per_query(coarse_scored, "coarse", rerank),
        queries,
        corpus,
        k=k,
        score="cosine",
        query_id=query_id,
        query_vec_col=vec_col,
        corpus_id=corpus_id,
        corpus_vec_col=vec_col,
    )
