"""Misra-Gries heavy hitters (operators/sketches.py): the classical
guarantees against exact ground truth — no false negatives above
n/(k+1), reported counts are lower bounds, error bounded by n/(k+1) —
on both a synthetic skewed stream and the fixture corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators.sketches import heavy_hitters
from finance_etl_system_spark.operators.text import tokens
from finance_etl_system_spark.queries.text import q_heavy_hitters_sketch
from tests.conftest import SF_SMOKE


def _check_guarantees(sketch_rows, truth: dict[str, int], k: int):
    n = sum(truth.values())
    got = {r.item: r.count_lo for r in sketch_rows}
    bound = n / (k + 1)
    for item, c in got.items():
        assert c <= truth[item], (item, c, truth[item])
    for item, c in truth.items():
        if c > bound and len(got) < k:
            assert item in got, (item, c, bound)
    for item, c in got.items():
        assert c >= truth[item] - bound - 1, (item, c, truth[item], bound)
    return got


def test_mg_on_synthetic_skewed_stream(spark):
    # deterministic zipf-ish stream: item i appears ~ N/(i+1) times
    df = (
        spark.range(0, 20000, 1, 8)
        .select((F.col("id") % 1000).alias("x"))
        .select(
            F.when(F.col("x") < 500, F.lit("hot0"))
            .when(F.col("x") < 750, F.lit("hot1"))
            .when(F.col("x") < 875, F.lit("hot2"))
            .otherwise(F.concat(F.lit("cold"), F.col("x")))
            .alias("item")
        )
    )
    truth = {
        r.item: r.n
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    k = 16
    rows = heavy_hitters(df, "item", k=k).collect()
    assert len(rows) <= k
    got = _check_guarantees(rows, truth, k)
    # the three unambiguous heavy hitters must surface with tight counts
    for hot in ("hot0", "hot1", "hot2"):
        assert hot in got
    top = max(got, key=lambda i: got[i])
    assert top == "hot0"


def test_mg_on_corpus_tokens_vs_exact(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    toks = d.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    truth = {
        r.token: r.n
        for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    k = 25
    rows = q_heavy_hitters_sketch(spark, SF_SMOKE).collect()
    assert rows and len(rows) <= k
    # the fixture corpus is near-uniform (31-token vocab, no token
    # above n/(k+1)), so only the unconditional guarantees bind here:
    # reported counts are lower bounds on truth. The skewed-stream
    # test above exercises eviction and the no-false-negative bar.
    _check_guarantees(rows, truth, k)


def test_quantile_histogram_merges_exactly_and_brackets_truth(spark):
    """The histogram rows are a MERGEABLE sketch: summing monthly bin
    counts and reading the median off the merged histogram must equal
    computing the same-bin histogram over the quarter directly; the
    exact bracket must contain the true median."""
    import numpy as np
    import pandas as pd

    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.queries.expectations import _QR_BINS
    from tests.conftest import SF_SMOKE

    o = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderdate", "o_totalprice")
        .toPandas()
    )
    mn, mx = o["o_totalprice"].min(), o["o_totalprice"].max()
    width = (mx - mn) / _QR_BINS
    o["bin"] = np.minimum(
        _QR_BINS - 1, np.floor((o["o_totalprice"] - mn) / width).astype(int)
    )
    o["month"] = pd.to_datetime(o["o_orderdate"]).dt.to_period("M")

    months = sorted(o["month"].unique())[:3]  # one quarter
    q = o[o["month"].isin(months)]

    def hist_median(counts: pd.Series) -> float:
        total = counts.sum()
        cum = 0
        for b, n in counts.sort_index().items():
            if cum + n >= total / 2.0:
                return mn + width * b + width * ((total / 2.0 - cum) / n)
            cum += n

    # merged monthly sketches == direct quarter sketch (bin counts add)
    monthly = [
        o[o["month"] == m]["bin"].value_counts() for m in months
    ]
    merged = monthly[0]
    for mser in monthly[1:]:
        merged = merged.add(mser, fill_value=0)
    merged = merged.astype(int).sort_index()
    direct = q["bin"].value_counts().astype(int).sort_index()
    assert merged.equals(direct)
    est = hist_median(merged)

    true_med = float(np.median(q["o_totalprice"]))
    b = int(np.minimum(_QR_BINS - 1, np.floor((true_med - mn) / width)))
    assert mn + width * b <= est <= mn + width * (b + 2)  # same/adjacent bin
    assert abs(est - true_med) <= width  # within one bin of truth
