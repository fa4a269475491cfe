"""Deterministic-sampling operator tests (training-data tier).

The oracle gate proves Spark/DuckDB agreement; these pin the
statistical and structural properties: fraction accuracy, run-to-run
and partitioning invariance, nested-sample subset law, and
group-aware split leakage-safety.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from finance_etl_system_spark.operators.text import ws_tokens

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators.sampling import (
    budget_take,
    hash_bucket,
    hash_sample,
    stratified_hash_sample,
    train_test_split_by_key,
)
from tests.conftest import SF_SMOKE


def test_fraction_accuracy(spark):
    l = load_table(spark, SF_SMOKE, "lineitem")
    n = l.count()
    got = hash_sample(l, ["l_orderkey", "l_linenumber"], 0.10).count()
    assert got == pytest.approx(0.10 * n, rel=0.15)


def test_membership_is_partitioning_invariant(spark):
    """The same rows are sampled however the data is laid out — the
    property `df.sample(seed)` does NOT have."""
    l = load_table(spark, SF_SMOKE, "lineitem")
    keys = lambda df: {  # noqa: E731
        (r["l_orderkey"], r["l_linenumber"])
        for r in df.select("l_orderkey", "l_linenumber").collect()
    }
    a = keys(hash_sample(l, ["l_orderkey", "l_linenumber"], 0.10))
    b = keys(hash_sample(l.repartition(7, "l_suppkey"), ["l_orderkey", "l_linenumber"], 0.10))
    assert a == b and a


def test_nested_samples_are_subsets(spark):
    """1% ⊂ 5% ⊂ 20% by construction (same hash, growing threshold) —
    lets a pipeline publish one 'sample tier' column and serve every
    downstream fraction consistently."""
    o = load_table(spark, SF_SMOKE, "orders")
    k = lambda df: {r["o_orderkey"] for r in df.select("o_orderkey").collect()}  # noqa: E731
    s1, s5, s20 = (k(hash_sample(o, ["o_orderkey"], f)) for f in (0.01, 0.05, 0.20))
    assert s1 <= s5 <= s20
    assert len(s20) > len(s5) > len(s1) > 0


def test_full_fraction_keeps_everything(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    assert hash_sample(o, ["o_orderkey"], 1.0).count() == o.count()
    assert hash_sample(o, ["o_orderkey"], 0.0).count() == 0


def test_stratified_rates_and_dropped_strata(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    out = stratified_hash_sample(
        o, "o_orderpriority", {"1-URGENT": 1.0, "2-HIGH": 0.2}, key_cols=["o_orderkey"]
    )
    by = {r["o_orderpriority"]: r["n"] for r in
          out.groupBy("o_orderpriority").count().withColumnRenamed("count", "n").collect()}
    full = {r["o_orderpriority"]: r["n"] for r in
            o.groupBy("o_orderpriority").count().withColumnRenamed("count", "n").collect()}
    assert set(by) == {"1-URGENT", "2-HIGH"}  # unlisted strata dropped
    assert by["1-URGENT"] == full["1-URGENT"]
    assert by["2-HIGH"] == pytest.approx(0.2 * full["2-HIGH"], rel=0.25)


def test_split_is_leakage_safe_and_total(spark):
    """Every lineitem of one order lands wholly in train or test."""
    l = load_table(spark, SF_SMOKE, "lineitem")
    train, test = train_test_split_by_key(l, ["l_orderkey"], 0.25)
    assert train.count() + test.count() == l.count()
    both = (
        train.select("l_orderkey").distinct()
        .intersect(test.select("l_orderkey").distinct())
        .count()
    )
    assert both == 0
    assert test.count() == pytest.approx(0.25 * l.count(), rel=0.2)


def _docs_with_weights(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    return d.select(
        "doc_id",
        "source",
        F.size(ws_tokens("text"))
        .cast("long")
        .alias("w"),
        (
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296)
        ).alias("h"),
    )


def test_budget_take_greedy_boundary_and_drop(spark):
    """Each listed group's kept weight lands in [budget, budget +
    max_row_weight) when the budget binds (the boundary-crossing row
    is kept, nothing after it); unlisted groups are dropped."""
    d = _docs_with_weights(spark)
    budgets = {"src1": 120, "src3": 80}
    kept = budget_take(
        d,
        group_col="source",
        weight_col="w",
        order_col="h",
        tiebreak_col="doc_id",
        budgets=budgets,
    )
    rows = kept.collect()
    assert {r["source"] for r in rows} == set(budgets)
    max_w = {r["source"]: r["mw"] for r in
             d.groupBy("source").agg(F.max("w").alias("mw")).collect()}
    for src, budget in budgets.items():
        tot = sum(r["w"] for r in rows if r["source"] == src)
        assert budget <= tot < budget + max_w[src]
    # cum_before is the exact prefix sum in (h, doc_id) order
    for src in budgets:
        grp = sorted(
            (r for r in rows if r["source"] == src),
            key=lambda r: (r["h"], r["doc_id"]),
        )
        run = 0
        for r in grp:
            assert r["cum_before"] == run
            run += r["w"]


def test_budget_take_bucket_and_partitioning_invariant(spark):
    """The kept SET is independent of the bucket count and the input
    partitioning — the integer-arithmetic property the oracle gate
    relies on."""
    d = _docs_with_weights(spark)
    kw = dict(
        group_col="source",
        weight_col="w",
        order_col="h",
        tiebreak_col="doc_id",
        budgets={"src2": 150, "src5": 90},
    )
    key = lambda df: {  # noqa: E731
        (r["source"], r["doc_id"], r["cum_before"]) for r in df.collect()
    }
    a = key(budget_take(d, **kw))
    b = key(budget_take(d, buckets=3, **kw))
    c = key(budget_take(d.repartition(13, "doc_id"), **kw))
    assert a == b == c and a


def test_budget_take_incremental_carry(spark):
    """Two-day top-up: day 2 with the day-1 carry fills exactly the
    remaining budget, and a group exhausted on day 1 takes nothing."""
    d = _docs_with_weights(spark)
    day1 = d.filter(F.col("doc_id") % 2 == 0)
    day2 = d.filter(F.col("doc_id") % 2 == 1)
    # src1's budget exceeds day-1 supply (top-up path); src3's is
    # exhausted on day 1 (zero-take path)
    budgets = {"src1": 1000, "src3": 60}
    kw = dict(
        group_col="source",
        weight_col="w",
        order_col="h",
        tiebreak_col="doc_id",
        budgets=budgets,
    )
    k1 = budget_take(day1, **kw).collect()
    consumed = {
        src: max(
            (r["cum_before"] + r["w"] for r in k1 if r["source"] == src),
            default=0,
        )
        for src in budgets
    }
    k2 = budget_take(day2, consumed=consumed, **kw).collect()
    max_w = {r["source"]: r["mw"] for r in
             d.groupBy("source").agg(F.max("w").alias("mw")).collect()}
    for src, budget in budgets.items():
        took1 = consumed[src]
        took2 = sum(r["w"] for r in k2 if r["source"] == src)
        if took1 >= budget:  # exhausted on day 1
            assert took2 == 0
        else:  # day 2 fills the remainder (greedy overrun allowed)
            assert budget <= took1 + took2 < budget + max_w[src]
    # carry-inclusive cum_before: day-2 rows start at the day-1 total
    for r in k2:
        assert r["cum_before"] >= consumed[r["source"]]


def test_budget_take_oversized_budget_keeps_whole_group(spark):
    d = _docs_with_weights(spark)
    kept = budget_take(
        d,
        group_col="source",
        weight_col="w",
        order_col="h",
        tiebreak_col="doc_id",
        budgets={"src4": 10**9},
    )
    assert kept.count() == d.filter(F.col("source") == "src4").count()


def test_quality_budget_take_is_best_first(spark):
    """The kept set is a PREFIX of each source's quality order: every
    kept doc sorts (quality key, doc_id)-before every dropped doc."""
    from finance_etl_system_spark.queries.sampling import (
        MIXTURE_BUDGETS,
        q_quality_budget_take,
    )

    kept = {
        (r["source"], r["doc_id"])
        for r in q_quality_budget_take(spark, SF_SMOKE).collect()
    }
    d = load_table(spark, SF_SMOKE, "documents")
    toks = ws_tokens("text")
    n = F.size(toks).cast("long")
    grid = F.round(
        F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1)) * 1000000
    ).cast("long")
    rows = d.select(
        "doc_id", "source", ((F.lit(1000000) - grid) * F.lit(4294)).alias("k")
    ).collect()
    for src in MIXTURE_BUDGETS:
        ks = sorted(
            ((r["k"], r["doc_id"]) for r in rows if r["source"] == src)
        )
        kept_keys = [t for t in ks if (src, t[1]) in kept]
        assert kept_keys == ks[: len(kept_keys)] and kept_keys


def test_bucket_column_is_reusable(spark):
    """hash_bucket persisted once reproduces hash_sample membership."""
    o = load_table(spark, SF_SMOKE, "orders").withColumn(
        "tier", hash_bucket("o_orderkey")
    )
    via_col = o.filter(o.tier < "1999").select("o_orderkey")
    via_op = hash_sample(
        load_table(spark, SF_SMOKE, "orders"), ["o_orderkey"], 0.10
    ).select("o_orderkey")
    assert {r[0] for r in via_col.collect()} == {r[0] for r in via_op.collect()}


def test_budget_take_negative_order_keys(spark):
    """ADVICE round-7: order keys OUTSIDE the documented [0, 2^32)
    domain (e.g. signed hashes) must still bucket monotonically —
    exact integer floor division, not truncation. Kept set per group
    must equal the naive greedy prefix."""
    from finance_etl_system_spark.operators.sampling import budget_take

    rows = [
        (i, "g", (-1) ** i * (10_000_000_000 + i * 7_919), 10)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, g string, k long, w long")
    kept = budget_take(
        df,
        group_col="g",
        weight_col="w",
        order_col="k",
        tiebreak_col="doc_id",
        budgets={"g": 300},
        buckets=8,
    ).collect()
    order = sorted((r[2], r[0]) for r in rows)
    # greedy boundary: rows whose running total STARTS before budget
    want, cum = set(), 0
    for k, d in order:
        if cum < 300:
            want.add(d)
        cum += 10
    assert {r["doc_id"] for r in kept} == want
    # cum_before audit column matches the naive prefix sums
    naive = {d: i * 10 for i, (k, d) in enumerate(order)}
    for r in kept:
        assert r["cum_before"] == naive[r["doc_id"]]
