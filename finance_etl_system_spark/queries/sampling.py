"""Deterministic-sampling queries (training-data pipeline tier).

Membership is a pure function of the row key (md5-prefix threshold,
operators/sampling.py), so the SAME rows are sampled by Spark and
DuckDB — these are full value-hash oracle checks, not rows-only, which
is the point: sampling that an independent engine can reproduce is
sampling you can audit at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import money_sum
from ..operators.sampling import budget_take, hash_sample, stratified_hash_sample
from ..operators.text import ws_tokens
from .curation import _TOKS_SQL


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% key-hash sample of lineitem, summarized per returnflag.
    The summary (not the raw sample) keeps the oracle payload small
    while still hashing every sampled row into the result."""
    l = load_table(spark, sf_dir, "lineitem")
    sampled = hash_sample(l, ["l_orderkey", "l_linenumber"], 0.10)
    return (
        sampled.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


# 0.10 * 65536 = 6553 = 0x1999
_HASH_SAMPLE_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0, 2) AS sum_price
FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '§' || CAST(l_linenumber AS VARCHAR)), 1, 4) < '1999'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing: keep all urgent orders, 20% of high, 5% of
    the rest-of-world strata. Deterministic per-stratum thresholds."""
    o = load_table(spark, sf_dir, "orders")
    sampled = stratified_hash_sample(
        o,
        "o_orderpriority",
        {"1-URGENT": 1.0, "2-HIGH": 0.20, "5-LOW": 0.05},
        key_cols=["o_orderkey"],
    )
    return (
        sampled.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice", 10_000).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# 1.0 -> 'g' (sorts above every hex prefix), 0.20 -> 0x3333, 0.05 -> 0x0ccc
_STRATIFIED_SAMPLE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(CAST(ROUND(o_totalprice * 10000, 0) AS BIGINT)) / 10000.0, 2) AS total_price
FROM orders
WHERE (o_orderpriority = '1-URGENT' AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < 'g')
   OR (o_orderpriority = '2-HIGH'   AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '3333')
   OR (o_orderpriority = '5-LOW'    AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '0ccc')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# Per-domain token budgets for the mixture sampler. Domains not
# listed are dropped; budgets are set to BIND at every test SF (each
# sf0.01 domain holds ~1.3k whitespace tokens, sf0.1 ~13k).
MIXTURE_BUDGETS = {
    "src1": 700,
    "src3": 450,
    "src7": 650,
    "src13": 250,
    "src19": 500,
}


def q_mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: take ~budget whitespace tokens per
    source in deterministic Knuth-hash order (operators/sampling.py
    budget_take — grouped two-phase prefix sum, no single-partition
    window). Emits every kept doc with its in-group token offset, so
    the oracle hashes the exact selected set AND the prefix structure.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(ws_tokens("text")).cast("long").alias("n_tokens"),
        (
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296)
        ).alias("h"),
    )
    kept = budget_take(
        d,
        group_col="source",
        weight_col="n_tokens",
        order_col="h",
        tiebreak_col="doc_id",
        budgets=MIXTURE_BUDGETS,
    )
    return kept.select("source", "doc_id", "n_tokens", "cum_before").orderBy(
        "source", "doc_id"
    )


_MIXTURE_VALUES = ", ".join(
    f"('{k}', {v})" for k, v in MIXTURE_BUDGETS.items()
)

_MIXTURE_TOKEN_BUDGET_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS BIGINT) AS cum_before
  FROM t
),
b(source, budget) AS (VALUES {_MIXTURE_VALUES})
SELECT c.source, c.doc_id, c.n_tokens, c.cum_before
FROM c JOIN b ON c.source = b.source
WHERE c.cum_before < b.budget
ORDER BY c.source, c.doc_id
"""


def q_quality_budget_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first mixture: fill each source's token budget with its
    HIGHEST-lexical-diversity documents instead of a uniform hash
    sample — the curation policy when budgets are tight and quality
    is measurable. The order key is the type-token ratio quantized to
    an integer grid, inverted (budget_take scans ascending), and
    spread across the full key space so the range-bucketing keeps its
    parallelism; ties break on doc_id. Same grouped two-phase prefix
    sum, same oracle discipline (all-integer key, identical on both
    engines)."""
    d = load_table(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n_tokens = F.size(toks).cast("long")
    ttr_grid = F.round(
        F.size(F.array_distinct(toks))
        / F.greatest(n_tokens, F.lit(1))
        * 1000000
    ).cast("long")
    prepared = d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        ((F.lit(1000000) - ttr_grid) * F.lit(4294)).alias("k"),
    )
    kept = budget_take(
        prepared,
        group_col="source",
        weight_col="n_tokens",
        order_col="k",
        tiebreak_col="doc_id",
        budgets=MIXTURE_BUDGETS,
    )
    return kept.select("source", "doc_id", "n_tokens", "cum_before").orderBy(
        "source", "doc_id"
    )


_QUALITY_BUDGET_TAKE_SQL = f"""
WITH t AS (
  SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
),
g AS (
  SELECT doc_id, source,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         (1000000 - CAST(ROUND(len(list_distinct(toks))
             / greatest(CAST(len(toks) AS BIGINT), 1) * 1000000, 0) AS BIGINT)
         ) * 4294 AS k
  FROM t
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS BIGINT) AS cum_before
  FROM g
),
b(source, budget) AS (VALUES {_MIXTURE_VALUES})
SELECT c.source, c.doc_id, c.n_tokens, c.cum_before
FROM c JOIN b ON c.source = b.source
WHERE c.cum_before < b.budget
ORDER BY c.source, c.doc_id
"""


MIX_ALPHA = 0.3  # the multilingual sampling exponent (p_s ∝ share^α)
MIX_TOTAL_BUDGET = 100_000  # tokens allocated across sources


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights (the multilingual
    data-mixing standard: sample source s with p_s ∝ (n_s/N)^α,
    α = 0.3 — upsamples low-resource sources, damps dominant ones).
    Reports per source the natural share, the temperature share, the
    resulting token budget out of 100k, and the up/down-sampling
    factor.

    Determinism: each pow() rounds ONCE to integer micro-ticks and the
    normalizer is their exact integer sum — no float-sum order
    dependence. Scale: ONE map-combinable groupBy(source) plus
    |sources|-row arithmetic."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(ws_tokens("text")).cast("long").alias("n_tokens")
    )
    per_src = d.groupBy("source").agg(
        F.sum("n_tokens").alias("n_tokens")
    # |sources|-row barrier (r13, guide §3.3): per_src feeds the
    # total, the normalizer and the final projection — the before-
    # plan re-derived the scan+tokenize+aggregate subtree 4x.
    # LAZY (r14, verdict r13 #5): the eager form ran the checkpoint
    # as its own serial job; lazy fuses the materialization into the
    # first consumer job (the `total` broadcast collect computes
    # every partition anyway) — the dd3d866 trainer pattern. Still 0
    # document scans in the action plan; one scan total per
    # invocation, now inside the first consumer job.
    ).localCheckpoint(eager=False)
    total = per_src.agg(
        F.sum("n_tokens").cast("double").alias("total")
    )
    t = per_src.crossJoin(F.broadcast(total)).withColumn(
        "pow_ticks",
        F.round(
            F.pow(F.col("n_tokens") / F.col("total"), F.lit(MIX_ALPHA))
            * 1_000_000
        ).cast("long"),
    )
    norm = t.agg(F.sum("pow_ticks").alias("norm_ticks"))
    return (
        t.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.col("n_tokens") / F.col("total"), 6
            ).alias("natural_share"),
            F.round(
                F.col("pow_ticks") / F.col("norm_ticks").cast("double"),
                6,
            ).alias("temp_share"),
            F.round(
                F.col("pow_ticks")
                / F.col("norm_ticks").cast("double")
                * MIX_TOTAL_BUDGET
            )
            .cast("long")
            .alias("token_budget"),
            F.round(
                (F.col("pow_ticks") / F.col("norm_ticks").cast("double"))
                / (F.col("n_tokens") / F.col("total")),
                6,
            ).alias("sampling_factor"),
        )
        .orderBy("source")
    )


_MIXTURE_TEMPERATURE_SQL = f"""
WITH t AS (
  SELECT source, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM t),
p AS (
  SELECT source, n_tokens, total,
         CAST(ROUND(POW(n_tokens / total, {MIX_ALPHA}) * 1000000) AS BIGINT)
           AS pow_ticks
  FROM t CROSS JOIN tot
),
nrm AS (SELECT SUM(pow_ticks) AS norm_ticks FROM p)
SELECT source,
       n_tokens,
       ROUND(n_tokens / total, 6) AS natural_share,
       ROUND(pow_ticks / CAST(norm_ticks AS DOUBLE), 6) AS temp_share,
       CAST(ROUND(pow_ticks / CAST(norm_ticks AS DOUBLE) * {MIX_TOTAL_BUDGET})
            AS BIGINT) AS token_budget,
       ROUND((pow_ticks / CAST(norm_ticks AS DOUBLE))
             / (n_tokens / total), 6) AS sampling_factor
FROM p CROSS JOIN nrm
ORDER BY source
"""


QUERIES = {
    "hash_sample": q_hash_sample,
    "stratified_sample": q_stratified_sample,
    "mixture_token_budget": q_mixture_token_budget,
    "quality_budget_take": q_quality_budget_take,
    "mixture_temperature": q_mixture_temperature,
}

ORACLE = {
    "hash_sample": _HASH_SAMPLE_SQL,
    "stratified_sample": _STRATIFIED_SAMPLE_SQL,
    "mixture_token_budget": _MIXTURE_TOKEN_BUDGET_SQL,
    "quality_budget_take": _QUALITY_BUDGET_TAKE_SQL,
    "mixture_temperature": _MIXTURE_TEMPERATURE_SQL,
}
