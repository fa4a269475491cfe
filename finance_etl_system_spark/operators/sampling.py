"""Deterministic sampling for training-data pipelines.

`df.sample(fraction, seed)` is reproducible only within one Spark
version/partitioning — the sampled SET changes when the data is
repartitioned, which poisons incremental pipelines (yesterday's 10%
sample and today's disagree on yesterday's rows). These operators
sample by CONTENT hash instead: a row is in the sample iff
md5(natural key) falls below a threshold, so membership is a pure
function of the row — stable across engines, partitionings, runs, and
scale factors, and joinable (the same key samples identically in two
tables, giving consistent fact/dim subsamples).

The hex-string-prefix comparison (`substr(md5(k),1,4) < threshold`)
is deliberately chosen over hex→int conversion because lexicographic
compare of lowercase hex behaves identically in Spark and DuckDB —
the property the oracle gate checks.

Scale notes: the filter is a pure map-side predicate (no shuffle, no
state); md5 is JVM-side, whole-stage-codegen'd. Granularity is 16^4 =
65,536 buckets → requested fractions land within 1/65536.

The reference has no sampling/mixture stage (its scope stops at OHLCV
rows, /root/reference/spark-job/etl_job.py); this module is part of
the training-data extension tier (SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident

_BUCKETS = 16**4  # 4 hex chars
KEY_SPACE = 2**32  # budget_take order keys are expected in [0, KEY_SPACE)


def _hex_threshold(fraction: float) -> str:
    """Exclusive upper bound on the 4-char lowercase-hex prefix for
    `fraction`. For fraction=1.0 the bound must sort ABOVE every hex
    string — 'g' does; the naive format() result '10000' does NOT
    ('ffff' > '10000' lexicographically)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    n = int(fraction * _BUCKETS)
    return "g" if n >= _BUCKETS else format(n, "04x")


def hash_bucket(*key_cols: str, sep: str = "§") -> Column:
    """The 4-hex-char md5 prefix of the concatenated key — the
    sampling coordinate. Exposed so callers can persist it once and
    reuse it for many fractions (nested samples: a 1% sample is a
    subset of the 10% sample by construction)."""
    key = F.concat_ws(sep, *[F.col(c).cast("string") for c in key_cols])
    return F.substring(F.md5(key), 1, 4)


def hash_sample(df: DataFrame, key_cols: list[str], fraction: float) -> DataFrame:
    """Keep ~`fraction` of rows, membership determined by key hash."""
    return df.filter(hash_bucket(*key_cols) < F.lit(_hex_threshold(fraction)))


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Per-stratum fractions (e.g. downsample the majority class,
    keep all of the rare one). Strata absent from `fractions` are
    dropped — the common rebalancing contract. `key_cols` defaults to
    every non-stratum column."""
    if key_cols is None:
        key_cols = [c for c in df.columns if c != strata_col]
    bucket = hash_bucket(*key_cols)
    keep = F.lit(False)
    for stratum, frac in fractions.items():
        keep = keep | (
            (F.col(strata_col) == stratum) & (bucket < F.lit(_hex_threshold(frac)))
        )
    return df.filter(keep)


def budget_take(
    df: DataFrame,
    *,
    group_col: str,
    weight_col: str,
    order_col: str,
    tiebreak_col: str,
    budgets: dict[str, int],
    buckets: int = 64,
    consumed: dict[str, int] | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Per-group weight-budget selection ("mixture sampling"): for
    each group, keep the rows whose running weight total in
    deterministic (order_col, tiebreak_col) order STARTS before the
    group's budget — the domain-rebalancing step of a pretraining
    pipeline (take ~N tokens of web, ~M of code, ...; DoReMi-style
    mixture weights land here as per-domain token budgets).

    Greedy boundary semantics match operators/packing.prefix_pack:
    the row that crosses the budget line is KEPT, so a group's kept
    weight total lands in [budget, budget + max_row_weight) — the
    standard contract when documents are not split.

    Scale shape: NO single-partition window. Grouped two-phase
    distributed prefix sum: ``order_col`` (integral, nominally in
    [0, KEY_SPACE) — any long value buckets monotonically via exact
    floor division, so signed hashes degrade to coarser buckets, not
    wrong results) is range-bucketed monotonically, the within-bucket
    window cumsum runs on groups×buckets parallel partitions, and the
    bucket-offset scan is a window over the groups×buckets-row totals
    aggregate (partitioned by group — never one task), broadcast-
    joined back. Budgets ride a literal map (domain counts are
    human-sized). All integer arithmetic → bit-identical across
    partitionings, bucket counts, and engines, so the DuckDB oracle
    can use the naive one-window formulation and still hash-match.

    Groups absent from ``budgets`` are dropped (the rebalancing
    contract, same as stratified_hash_sample). Returns the kept rows
    plus ``cum_before`` — the group's weight total strictly before
    the row, useful for auditing how full each budget ran.

    ``consumed`` makes the take INCREMENTAL (the prefix_pack
    base_offset pattern): pass each group's weight total already
    taken by previous batches and this batch fills only the remaining
    budget — today's take never re-reads yesterday's corpus.
    ``cum_before`` then includes the carry, so the next batch's
    ``consumed`` is simply max(cum_before + weight) over this batch's
    kept rows per group (unchanged for groups that kept nothing).
    """
    width = max(1, KEY_SPACE // buckets)
    # drop unlisted groups BEFORE the prefix-sum shuffle: the IN
    # predicate pushes to the scan, so a take of 5 domains out of 10k
    # never shuffles the other 9,995.
    # FLOOR division (not `div`, which truncates toward zero): the
    # bucket map must be monotone over the WHOLE long domain so an
    # order key outside the documented [0, KEY_SPACE) — e.g. a signed
    # hash — still buckets correctly instead of silently relying on
    # truncation's accidental monotonicity
    # (k - pmod(k, w)) div w == floor(k / w) exactly, in pure long
    # arithmetic (no double round-trip, exact over the full domain)
    b = df.filter(F.col(group_col).isin(list(budgets)))
    # doc-level materialization barrier (r13, guide §3.3): the
    # window branch and the totals branch both consume this frame,
    # and their column-pruning differences defeat subtree sharing —
    # unmaterialized, the caller's scan+tokenize pipeline ran twice.
    # The frame is (group, weight, order, tiebreak) narrow rows, one
    # per packable unit — the sanctioned class (prefix_pack has the
    # same flag); the corpus-sized WINDOWED frame is still never
    # materialized. Placed after the budget filter so the IN
    # pushdown above keeps its effect.
    if materialize:
        b = b.localCheckpoint(eager=True)
    b = b.withColumn(
        "_bucket",
        F.expr(
            f"({sql_ident(order_col)} - pmod({sql_ident(order_col)}, {width}))"
            f" div {width}"
        ),
    )
    w_in = (
        Window.partitionBy(group_col, "_bucket")
        .orderBy(order_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = b.withColumn("_cum_in", F.sum(weight_col).over(w_in))
    # the totals branch re-reads the (materialized, narrow) input
    # rather than reusing the windowed frame: its shuffle then
    # carries only map-side-combined (group, bucket, total) partials
    # — groups×buckets rows per partition — where a post-window
    # aggregate would re-shuffle the whole corpus
    totals = b.groupBy(group_col, "_bucket").agg(
        F.sum(weight_col).alias("_total")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        group_col,
        "_bucket",
        F.coalesce(F.sum("_total").over(w_off), F.lit(0)).alias("_offset"),
    )
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    carry = F.lit(0)
    if consumed:
        carry_map = F.create_map(
            *[F.lit(x) for kv in consumed.items() for x in kv]
        )
        carry = F.coalesce(carry_map[F.col(group_col)], F.lit(0))
    return (
        b.join(F.broadcast(offsets), [group_col, "_bucket"])
        .withColumn(
            "cum_before",
            (
                carry + F.col("_offset") + F.col("_cum_in") - F.col(weight_col)
            ).cast("long"),
        )
        .filter(F.col("cum_before") < budget_map[F.col(group_col)])
        .drop("_bucket", "_cum_in", "_offset")
    )


def train_test_split_by_key(
    df: DataFrame, key_cols: list[str], test_fraction: float = 0.2
) -> tuple[DataFrame, DataFrame]:
    """Leakage-safe split: every row of one key lands wholly in train
    or wholly in test (group-aware splitting — the property random
    row-level splits violate when keys repeat across rows)."""
    bucket = hash_bucket(*key_cols)
    thresh = F.lit(_hex_threshold(test_fraction))
    return df.filter(bucket >= thresh), df.filter(bucket < thresh)
