"""Distribution-drift monitoring: PSI and grid-KS between a reference
and a current population — the ML-ops layer over the model tier
(pipeline/ml.py monitors residuals per model; this monitors the
FEATURE distribution itself, the earlier warning).

Populations: orders before/after 1997-01-01 (chronological split, the
same convention as ml_chrono_split).

- ``drift_psi``: Population Stability Index over the REFERENCE's
  decile edges — Σ (q_i − p_i)·ln(q_i / p_i). The canonical
  "has the input shifted" score (>0.2 = action).
- ``drift_ks``: Kolmogorov–Smirnov statistic evaluated on the
  reference's vigintile grid — max_e |F_ref(e) − F_cur(e)|. Exact KS
  needs a global sort over the union (data-sized single-partition
  window — forbidden shape at 100 TB); the grid form is pure
  aggregates and lower-bounds exact KS, tight when the grid is the
  reference's own quantiles.

Scale shape: edges are ONE interpolated-percentile aggregate over the
reference (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
engine-portable pair proven by q_percentiles), broadcast as a 1-row
frame; each population then contributes one map-side-combinable
aggregate (bucket counts / 19 conditional fractions). Nothing
driver-side, nothing data-sized shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.sqltext import sql_ident, sql_literal

SPLIT_DATE = "1997-01-01"
N_PSI_BUCKETS = 10
_PSI_QS = [i / N_PSI_BUCKETS for i in range(1, N_PSI_BUCKETS)]  # 9 edges
_KS_QS = [i / 20 for i in range(1, 20)]  # 19 vigintile edges


def _populations(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    ref = o.filter(F.col("o_orderdate") < SPLIT_DATE)
    cur = o.filter(F.col("o_orderdate") >= SPLIT_DATE)
    return ref, cur


def bisect_bucket(value: str, edges: list):
    """``1 + bisect_left(edges, value)`` as a BALANCED comparison
    tree over literal sorted edges: bucket = 1 + #edges strictly
    below the value — identical semantics to the linear
    ``aggregate(e, ...)`` fold (and to the oracle's
    ``len(list_filter(e, x -> v > x))``), but O(log n) comparisons
    per row instead of O(n). With a centile grid (99 edges) the
    linear fold was 1.1 s of drift_ks_refined's 1.3 s at sf0.1 —
    the tree evaluates ≤7 CASE levels per row. A NULL value takes
    every ``ELSE`` branch and lands in bucket 1, exactly as the fold
    did. Edges arrive as collected literals (the 1-row edge-frame
    collect is query-grid-sized — the permissible class); duplicate
    edge values bisect correctly (first-match-left).

    ``value`` is a column name. The tree is ONE SQL text parsed
    JVM-side: a Column tree costs ~3 py4j round trips per edge (~0.5 s
    of driver time per invocation on the 99-edge centile grid). Edges
    become literals of the type ``F.lit`` gives them
    (``functions.sqltext.sql_literal``)."""
    col = sql_ident(value)

    def rec(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo + 1)
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN {col} > {sql_literal(edges[mid])} THEN "
            f"{rec(mid + 1, hi)} ELSE {rec(lo, mid)} END"
        )

    return F.expr(rec(0, len(edges)))


def _bucket_counts(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> DataFrame:
    """ONE scan produces BOTH populations' bucket counts (the is_ref
    flag rides the row instead of two filtered scans), and the totals
    come from re-aggregating the ≤|edges|+1-row bucket table — so a
    drift query costs exactly two scans (edges + counts) regardless of
    how many derived frames it builds. The 1-row edge frame is
    collected (grid-sized) and assignment runs as the bisect tree."""
    edge_vals = list(edges.first()["e"])
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderdate") < SPLIT_DATE).alias("is_ref"), "o_totalprice"
    )
    b = o.select(
        "is_ref",
        bisect_bucket("o_totalprice", edge_vals).alias("bucket"),
    )
    counts = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_n"),
    # materialize the <=|edges|+1-row bucket table before fanning out
    # (r13, guide §3.3/§5): `totals` re-derived the whole
    # scan+bisect+aggregate subtree (plan-level duplication — Catalyst
    # does not share subtrees, and column pruning defeats exchange
    # reuse), so every drift query paid the corpus scan twice. The
    # checkpoint is grid-sized at any SF.
    ).localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("ref_n").alias("n_ref"), F.sum("cur_n").alias("n_cur")
    )
    return counts.crossJoin(F.broadcast(totals))


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ref, _cur = _populations(spark, sf_dir)
    qs = ", ".join(str(q) for q in _PSI_QS)
    edges = ref.agg(
        F.expr(f"percentile(o_totalprice, array({qs}))").alias("e")
    )
    tot = _bucket_counts(spark, sf_dir, edges).withColumnsRenamed(
        {"n_ref": "ref_total", "n_cur": "cur_total"}
    )
    p = F.col("ref_n") / F.col("ref_total")
    q = F.col("cur_n") / F.col("cur_total")
    return tot.select(
        "bucket",
        "ref_n",
        "cur_n",
        F.round(p, 6).alias("ref_frac"),
        F.round(q, 6).alias("cur_frac"),
        F.round(
            F.when((p > 0) & (q > 0), (q - p) * F.log(q / p)).otherwise(
                F.lit(None)
            ),
            6,
        ).alias("psi_contrib"),
    ).orderBy("bucket")


_DRIFT_PSI_SQL = f"""
WITH src AS (
  SELECT o_orderdate, o_totalprice FROM orders
),
edges AS (
  SELECT quantile_cont(o_totalprice, [{", ".join(str(q) for q in _PSI_QS)}]) AS e
  FROM src WHERE o_orderdate < DATE '{SPLIT_DATE}'
),
ref_b AS (
  SELECT 1 + len(list_filter(e, x -> o_totalprice > x)) AS bucket,
         COUNT(*) AS ref_n
  FROM src CROSS JOIN edges WHERE o_orderdate < DATE '{SPLIT_DATE}'
  GROUP BY 1
),
cur_b AS (
  SELECT 1 + len(list_filter(e, x -> o_totalprice > x)) AS bucket,
         COUNT(*) AS cur_n
  FROM src CROSS JOIN edges WHERE o_orderdate >= DATE '{SPLIT_DATE}'
  GROUP BY 1
),
tot AS (
  SELECT COALESCE(r.bucket, c.bucket) AS bucket,
         COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n,
         (SELECT COUNT(*) FROM src WHERE o_orderdate < DATE '{SPLIT_DATE}')
           AS ref_total,
         (SELECT COUNT(*) FROM src WHERE o_orderdate >= DATE '{SPLIT_DATE}')
           AS cur_total
  FROM ref_b r FULL OUTER JOIN cur_b c ON r.bucket = c.bucket
)
SELECT bucket, ref_n, cur_n,
  ROUND(ref_n / CAST(ref_total AS DOUBLE), 6) AS ref_frac,
  ROUND(cur_n / CAST(cur_total AS DOUBLE), 6) AS cur_frac,
  ROUND(CASE WHEN ref_n > 0 AND cur_n > 0
        THEN (cur_n / CAST(cur_total AS DOUBLE)
              - ref_n / CAST(ref_total AS DOUBLE))
             * ln((cur_n / CAST(cur_total AS DOUBLE))
                  / (ref_n / CAST(ref_total AS DOUBLE)))
        END, 6) AS psi_contrib
FROM tot ORDER BY bucket
"""


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ref, cur = _populations(spark, sf_dir)
    qs = ", ".join(str(q) for q in _KS_QS)
    edges = ref.agg(
        F.expr(f"percentile(o_totalprice, array({qs}))").alias("e")
    )

    def cdf(df: DataFrame, name: str) -> DataFrame:
        return df.crossJoin(F.broadcast(edges)).agg(
            *[
                F.avg(
                    F.when(F.col("o_totalprice") <= F.col("e")[i], 1.0).otherwise(0.0)
                ).alias(f"{name}_f{i}")
                for i in range(len(_KS_QS))
            ],
            F.count(F.lit(1)).alias(f"n_{name}"),
        )

    both = cdf(ref, "ref").crossJoin(cdf(cur, "cur"))
    diffs = [
        F.abs(F.col(f"ref_f{i}") - F.col(f"cur_f{i}"))
        for i in range(len(_KS_QS))
    ]
    return both.select(
        F.round(F.greatest(*diffs), 6).alias("ks_grid"),
        F.col("n_ref"),
        F.col("n_cur"),
    )


_DRIFT_KS_SQL = f"""
WITH src AS (SELECT o_orderdate, o_totalprice FROM orders),
edges AS (
  SELECT quantile_cont(o_totalprice, [{", ".join(str(q) for q in _KS_QS)}]) AS e
  FROM src WHERE o_orderdate < DATE '{SPLIT_DATE}'
),
ref_f AS (
  SELECT {", ".join(f"AVG(CASE WHEN o_totalprice <= e[{i + 1}] THEN 1.0 ELSE 0.0 END) AS ref_f{i}" for i in range(len(_KS_QS)))},
         COUNT(*) AS n_ref
  FROM src CROSS JOIN edges WHERE o_orderdate < DATE '{SPLIT_DATE}'
),
cur_f AS (
  SELECT {", ".join(f"AVG(CASE WHEN o_totalprice <= e[{i + 1}] THEN 1.0 ELSE 0.0 END) AS cur_f{i}" for i in range(len(_KS_QS)))},
         COUNT(*) AS n_cur
  FROM src CROSS JOIN edges WHERE o_orderdate >= DATE '{SPLIT_DATE}'
)
SELECT ROUND(GREATEST({", ".join(f"ABS(ref_f{i} - cur_f{i})" for i in range(len(_KS_QS)))}), 6) AS ks_grid,
       n_ref, n_cur
FROM ref_f CROSS JOIN cur_f
"""

N_KS_BINS = 100
_KSR_QS = [i / N_KS_BINS for i in range(1, N_KS_BINS)]  # 99 centile edges


def q_drift_ks_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS with a PROVABLE two-sided bracket from mergeable histogram
    counts — the refinement of drift_ks's lower bound: inside any bin,
    |F_ref − F_cur| can move at most max(p_bin, q_bin) away from its
    value at the bin's left edge, so

        ks_lower = max_edges |D(e)|   ≤   KS_exact   ≤
        ks_upper = max_bins (|D(left edge)| + max(p_bin, q_bin)).

    With the reference's own centile grid p_bin = 1/N_KS_BINS exactly,
    so the bracket width is ≤ 0.01 + max_bin q_bin — an alarm
    thresholded anywhere outside [ks_lower, ks_upper] is decided
    EXACTLY, no global sort needed (the forbidden shape exact KS
    would take at 100 TB).

    Scale shape: one interpolated-percentile aggregate over the
    reference (broadcast 1-row edge frame), one map-side-combinable
    bucket-count aggregate per population, then cumulative sums over
    the ≤N_KS_BINS-row bucket table — the unpartitioned window runs
    on an aggregate-sized frame, never on data. All fractions derive
    from exact integer counts, so both engines compute identical
    doubles.
    """
    from pyspark.sql import Window

    ref, _cur = _populations(spark, sf_dir)
    qs = ", ".join(str(q) for q in _KSR_QS)
    edges = ref.agg(
        F.expr(f"percentile(o_totalprice, array({qs}))").alias("e")
    )
    tot = _bucket_counts(spark, sf_dir, edges)
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = tot.select(
        "bucket",
        "n_ref",
        "n_cur",
        (F.col("ref_n") / F.col("n_ref")).alias("p_b"),
        (F.col("cur_n") / F.col("n_cur")).alias("q_b"),
        (F.sum("ref_n").over(w) / F.col("n_ref")).alias("cum_p"),
        (F.sum("cur_n").over(w) / F.col("n_cur")).alias("cum_q"),
    )
    wl = Window.orderBy("bucket")
    d = cum.select(
        "n_ref",
        "n_cur",
        "p_b",
        "q_b",
        F.abs(F.col("cum_p") - F.col("cum_q")).alias("d_right"),
        F.lag(F.abs(F.col("cum_p") - F.col("cum_q")), 1, 0.0)
        .over(wl)
        .alias("d_left"),
    )
    return d.groupBy("n_ref", "n_cur").agg(
        F.round(F.max("d_right"), 6).alias("ks_lower"),
        F.round(
            F.max(F.col("d_left") + F.greatest("p_b", "q_b")), 6
        ).alias("ks_upper"),
    ).select("ks_lower", "ks_upper", "n_ref", "n_cur")


_DRIFT_KS_REFINED_SQL = f"""
WITH src AS (SELECT o_orderdate, o_totalprice FROM orders),
edges AS (
  SELECT quantile_cont(o_totalprice, [{", ".join(str(q) for q in _KSR_QS)}]) AS e
  FROM src WHERE o_orderdate < DATE '{SPLIT_DATE}'
),
ref_b AS (
  SELECT 1 + len(list_filter(e, x -> o_totalprice > x)) AS bucket,
         COUNT(*) AS ref_n
  FROM src CROSS JOIN edges WHERE o_orderdate < DATE '{SPLIT_DATE}'
  GROUP BY 1
),
cur_b AS (
  SELECT 1 + len(list_filter(e, x -> o_totalprice > x)) AS bucket,
         COUNT(*) AS cur_n
  FROM src CROSS JOIN edges WHERE o_orderdate >= DATE '{SPLIT_DATE}'
  GROUP BY 1
),
tot AS (
  SELECT COALESCE(r.bucket, c.bucket) AS bucket,
         COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n,
         (SELECT COUNT(*) FROM src WHERE o_orderdate < DATE '{SPLIT_DATE}')
           AS n_ref,
         (SELECT COUNT(*) FROM src WHERE o_orderdate >= DATE '{SPLIT_DATE}')
           AS n_cur
  FROM ref_b r FULL OUTER JOIN cur_b c ON r.bucket = c.bucket
),
cum AS (
  SELECT bucket, n_ref, n_cur,
         ref_n / CAST(n_ref AS DOUBLE) AS p_b,
         cur_n / CAST(n_cur AS DOUBLE) AS q_b,
         SUM(ref_n) OVER (ORDER BY bucket) / CAST(n_ref AS DOUBLE) AS cum_p,
         SUM(cur_n) OVER (ORDER BY bucket) / CAST(n_cur AS DOUBLE) AS cum_q
  FROM tot
),
d AS (
  SELECT n_ref, n_cur, p_b, q_b,
         ABS(cum_p - cum_q) AS d_right,
         COALESCE(LAG(ABS(cum_p - cum_q)) OVER (ORDER BY bucket), 0.0)
           AS d_left
  FROM cum
)
SELECT ROUND(MAX(d_right), 6) AS ks_lower,
       ROUND(MAX(d_left + GREATEST(p_b, q_b)), 6) AS ks_upper,
       n_ref, n_cur
FROM d GROUP BY n_ref, n_cur
"""

def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift: chi-square of the CURRENT o_orderpriority
    mix against expectations scaled from the REFERENCE mix — the
    categorical sibling of PSI (numeric) and KS (continuous), closing
    the drift-monitor family. contrib_k = (cur_k − n_cur·ref_k/n_ref)²
    / (n_cur·ref_k/n_ref).

    Scale shape: two category-keyed map-combinable counts + a 1-row
    totals broadcast; |categories| rows ever cross a shuffle. All
    inputs are exact integer counts → engine-identical doubles."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderdate") < SPLIT_DATE).alias("is_ref"),
        "o_orderpriority",
    )
    counts = o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_n"),
    )
    totals = counts.agg(
        F.sum("ref_n").alias("n_ref"), F.sum("cur_n").alias("n_cur")
    )
    j = counts.crossJoin(F.broadcast(totals))
    exp = F.col("n_cur") * F.col("ref_n") / F.col("n_ref")
    contrib = F.when(
        F.col("ref_n") > 0, (F.col("cur_n") - exp) * (F.col("cur_n") - exp) / exp
    ).otherwise(F.lit(None))
    return j.select(
        "o_orderpriority",
        "ref_n",
        "cur_n",
        F.round(exp, 6).alias("expected_n"),
        F.round(contrib, 6).alias("chi2_contrib"),
    ).orderBy("o_orderpriority")


_DRIFT_CHI2_SQL = f"""
WITH src AS (SELECT o_orderdate, o_orderpriority FROM orders),
r AS (
  SELECT o_orderpriority, COUNT(*) AS ref_n FROM src
  WHERE o_orderdate < DATE '{SPLIT_DATE}' GROUP BY 1
),
c AS (
  SELECT o_orderpriority, COUNT(*) AS cur_n FROM src
  WHERE o_orderdate >= DATE '{SPLIT_DATE}' GROUP BY 1
),
j AS (
  SELECT COALESCE(r.o_orderpriority, c.o_orderpriority) AS o_orderpriority,
         COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n,
         (SELECT COUNT(*) FROM src WHERE o_orderdate < DATE '{SPLIT_DATE}')
           AS n_ref,
         (SELECT COUNT(*) FROM src WHERE o_orderdate >= DATE '{SPLIT_DATE}')
           AS n_cur
  FROM r FULL OUTER JOIN c ON r.o_orderpriority = c.o_orderpriority
)
SELECT o_orderpriority, ref_n, cur_n,
  ROUND(n_cur * ref_n / CAST(n_ref AS DOUBLE), 6) AS expected_n,
  ROUND(CASE WHEN ref_n > 0 THEN
    (cur_n - n_cur * ref_n / CAST(n_ref AS DOUBLE))
    * (cur_n - n_cur * ref_n / CAST(n_ref AS DOUBLE))
    / (n_cur * ref_n / CAST(n_ref AS DOUBLE)) END, 6) AS chi2_contrib
FROM j ORDER BY o_orderpriority
"""


_CUSUM_K = 50   # allowance, ticks ($0.50): slack before drift accrues
_CUSUM_H = 500  # alarm threshold, ticks ($5.00) — per-unit of n1


def q_drift_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential change-point detection: a one-sided CUSUM chart per
    user — the SEQUENTIAL complement of the distributional drift tests
    (PSI/KS/chi² ask "has the batch shifted"; CUSUM asks "at which
    OBSERVATION did the level shift"). Reference level μ = the first
    half's mean; the second half is monitored.

    The recursion S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k)) looks
    sequential, but has the classic closed form
    S⁺_t = cum_t − min(0, min_{i≤t} cum_i) over the cumulative sums —
    a running sum + running min, i.e. two WINDOW functions, no
    recursion. Everything is scaled by n1 (the reference count) so all
    window arithmetic is exact INTEGER ticks (the SCALE.md window-sum
    policy): d_t = n1·x_t − S1 − n1·k is a long, and both engines
    produce identical results bit-for-bit.

    Output per user: monitored count, max S⁺ (in dollars, the drift
    magnitude), the first alarming observation index (NULL = in
    control), and the alarm flag."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wa = Window.partitionBy("user_id")
    t = F.round(F.col("value") * 100, 0).cast("long")
    base = (
        e.select("user_id", "ts", "event_id", t.alias("tick"))
        .withColumn("idx", F.row_number().over(wo))
        .withColumn("n", F.count(F.lit(1)).over(wa))
        .withColumn("n1", F.floor(F.col("n") / 2).cast("long"))
    )
    base = base.withColumn(
        "s1",
        F.sum(F.when(F.col("idx") <= F.col("n1"), F.col("tick"))).over(wa),
    )
    d = F.when(
        F.col("idx") > F.col("n1"),
        F.col("n1") * F.col("tick") - F.col("s1") - F.col("n1") * _CUSUM_K,
    )
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = base.withColumn("cum", F.sum(d).over(run))
    s_plus = F.col("cum") - F.least(F.min("cum").over(run), F.lit(0))
    flagged = cum.withColumn("s_plus", s_plus).withColumn(
        "alarm", F.col("s_plus") > F.col("n1") * _CUSUM_H
    )
    mon = flagged.filter(F.col("idx") > F.col("n1"))
    return (
        mon.groupBy("user_id", "n1")
        .agg(
            F.count(F.lit(1)).alias("n_monitored"),
            F.round(
                F.max("s_plus").cast("double") / F.col("n1") / 100.0, 6
            ).alias("max_cusum"),
            F.min(F.when(F.col("alarm"), F.col("idx"))).alias(
                "first_alarm_idx"
            ),
            F.max(F.col("alarm").cast("int")).cast("boolean").alias("alarmed"),
        )
        .filter(F.col("n1") > 0)
        .select(
            "user_id", "n1", "n_monitored", "max_cusum",
            "first_alarm_idx", "alarmed",
        )
        .orderBy("user_id")
    )


_DRIFT_CUSUM_SQL = f"""
WITH nn AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS tick
  FROM events WHERE value IS NOT NULL
),
idxed AS (
  SELECT user_id, tick,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         CAST(FLOOR(COUNT(*) OVER (PARTITION BY user_id) / 2) AS BIGINT) AS n1
  FROM nn
),
withs1 AS (
  SELECT *,
         SUM(CASE WHEN idx <= n1 THEN tick END)
           OVER (PARTITION BY user_id) AS s1
  FROM idxed
),
cum AS (
  SELECT *,
         SUM(CASE WHEN idx > n1
                  THEN n1 * tick - s1 - n1 * {_CUSUM_K} END)
           OVER (PARTITION BY user_id ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM withs1
),
sp AS (
  SELECT *,
         cum - LEAST(MIN(cum) OVER (PARTITION BY user_id ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
           AS s_plus
  FROM cum
)
SELECT user_id, n1,
       CAST(COUNT(*) AS BIGINT) AS n_monitored,
       ROUND(CAST(MAX(s_plus) AS DOUBLE) / n1 / 100.0, 6) AS max_cusum,
       MIN(CASE WHEN s_plus > n1 * {_CUSUM_H} THEN idx END)
         AS first_alarm_idx,
       MAX(CASE WHEN s_plus > n1 * {_CUSUM_H} THEN 1 ELSE 0 END) = 1
         AS alarmed
FROM sp
WHERE idx > n1 AND n1 > 0
GROUP BY user_id, n1
ORDER BY user_id
"""


_HIST_BINS = 512


def _tick_populations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(is_ref, ticks) — the integer-tick twin of _populations."""
    return load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderdate") < SPLIT_DATE).alias("is_ref"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("ticks"),
    )


def _tick_hist_edges(o: DataFrame, n_parts: int) -> DataFrame:
    """n_parts−1 quantile edges (in ticks) of the REFERENCE population
    read off a {bins}-bin equi-width histogram — 1-row array frame.
    O(bins) aggregation state, counts merge by addition, all-integer
    arithmetic (engine-bit-identical); each edge is the hi edge of its
    crossing bin (≤ one bin width from the exact quantile)."""
    from pyspark.sql import Window

    ref = o.filter(F.col("is_ref"))
    bounds = ref.agg(F.min("ticks").alias("mn"), F.max("ticks").alias("mx"))
    hist = (
        ref.crossJoin(F.broadcast(bounds))
        .select(
            "mn",
            "mx",
            F.least(
                F.lit(_HIST_BINS - 1),
                F.expr(f"((ticks - mn) * {_HIST_BINS}) div (mx - mn + 1)"),
            ).alias("bin"),
        )
        .groupBy("mn", "mx", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("n").over(wcum)).withColumn(
        "total", F.sum("n").over(Window.partitionBy())
    )
    edge = (
        cum.select(
            "*", F.explode(F.sequence(F.lit(1), F.lit(n_parts - 1))).alias("q")
        )
        .filter(
            ((F.col("cum") - F.col("n")) * n_parts < F.col("q") * F.col("total"))
            & (F.col("cum") * n_parts >= F.col("q") * F.col("total"))
        )
        .select(
            F.expr(f"mn + ((bin + 1) * (mx - mn + 1)) div {_HIST_BINS}").alias(
                "edge_tick"
            )
        )
    )
    return edge.agg(F.array_sort(F.collect_list("edge_tick")).alias("e"))


def _hist_edges_ctes(n_parts: int, extra_src_cols: str = "") -> str:
    """The DuckDB CTE chain mirroring _tick_populations +
    _tick_hist_edges: defines src / bounds / hist / hcum / edge /
    edges (edges = 1-row sorted tick array). ``extra_src_cols``
    threads passenger columns (e.g. the segment) through src; the
    edge derivation ignores them."""
    return f"""src AS (
  SELECT {extra_src_cols}(o_orderdate < DATE '{SPLIT_DATE}') AS is_ref,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS ticks
  FROM orders
),
bounds AS (SELECT MIN(ticks) AS mn, MAX(ticks) AS mx FROM src WHERE is_ref),
hist AS (
  SELECT mn, mx,
         LEAST({_HIST_BINS - 1}, ((ticks - mn) * {_HIST_BINS}) // (mx - mn + 1))
           AS bin,
         COUNT(*) AS n
  FROM src CROSS JOIN bounds WHERE is_ref
  GROUP BY 1, 2, 3
),
hcum AS (
  SELECT *,
         SUM(n) OVER (ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER () AS total
  FROM hist
),
edge AS (
  SELECT mn + ((bin + 1) * (mx - mn + 1)) // {_HIST_BINS} AS edge_tick
  FROM hcum CROSS JOIN (SELECT unnest(range(1, {n_parts})) AS q)
  WHERE (cum - n) * {n_parts} < q * total
    AND cum * {n_parts} >= q * total
),
edges AS (SELECT list_sort(list(edge_tick)) AS e FROM edge)"""


def q_drift_psi_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI with decile edges read off a MERGEABLE equi-width histogram
    instead of exact percentile — the 100-TB edge-derivation path.

    Exact ``percentile()`` buffers a value→count map per partition
    (state grows with near-unique data: the round-4 verdict's design
    risk). Here the reference's decile edges come from a fixed-bin
    integer-tick histogram: bounds (1-row broadcast) → 512 bin counts
    (map-side combinable, merge by addition — the
    quantile_histogram_rollup property) → cumulative over the ≤512-row
    bin table → each decile's edge is the hi edge of its crossing bin.
    Aggregation state is O(bins), independent of data size, and
    monthly histograms roll up to the same edges with no re-scan.

    Everything up to the final fractions is EXACT INTEGER arithmetic
    (ticks, integer div), so both engines agree bit-for-bit; the
    fractions derive from exact integer counts. The edges are
    bracket-quantized (≤ one bin width from the exact decile), which
    is the documented trade for mergeability — PSI over quantized
    edges is still a valid reference-grid PSI."""
    o = _tick_populations(spark, sf_dir)
    edge_ticks = [int(x) for x in _tick_hist_edges(o, N_PSI_BUCKETS).first()["e"]]
    b = o.select(
        "is_ref",
        bisect_bucket("ticks", edge_ticks).alias("bucket"),
    )
    counts = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_n"),
    # grid-sized barrier before the totals fan-out (r13, guide
    # §3.3/§5) — same rationale as _bucket_counts: unmaterialized,
    # `totals` re-derived the whole scan+bucket+aggregate subtree
    ).localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("ref_n").alias("ref_total"), F.sum("cur_n").alias("cur_total")
    )
    j = counts.crossJoin(F.broadcast(totals))
    p = F.col("ref_n") / F.col("ref_total")
    q = F.col("cur_n") / F.col("cur_total")
    return j.select(
        "bucket",
        "ref_n",
        "cur_n",
        F.round(p, 6).alias("ref_frac"),
        F.round(q, 6).alias("cur_frac"),
        F.round(
            F.when((p > 0) & (q > 0), (q - p) * F.log(q / p)).otherwise(
                F.lit(None)
            ),
            6,
        ).alias("psi_contrib"),
    ).orderBy("bucket")


_DRIFT_PSI_HISTOGRAM_SQL = f"""
WITH {_hist_edges_ctes(N_PSI_BUCKETS)},
b AS (
  SELECT is_ref, 1 + len(list_filter(e, x -> ticks > x)) AS bucket
  FROM src CROSS JOIN edges
),
counts AS (
  SELECT bucket,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_n,
         SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_n
  FROM b GROUP BY bucket
),
tot AS (SELECT SUM(ref_n) AS ref_total, SUM(cur_n) AS cur_total FROM counts)
SELECT bucket,
       CAST(ref_n AS BIGINT) AS ref_n,
       CAST(cur_n AS BIGINT) AS cur_n,
       ROUND(ref_n / CAST(ref_total AS DOUBLE), 6) AS ref_frac,
       ROUND(cur_n / CAST(cur_total AS DOUBLE), 6) AS cur_frac,
       ROUND(CASE WHEN ref_n > 0 AND cur_n > 0
             THEN (cur_n / CAST(cur_total AS DOUBLE)
                   - ref_n / CAST(ref_total AS DOUBLE))
                  * ln((cur_n / CAST(cur_total AS DOUBLE))
                       / (ref_n / CAST(ref_total AS DOUBLE)))
             END, 6) AS psi_contrib
FROM counts CROSS JOIN tot ORDER BY bucket
"""


def q_drift_ks_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drift_ks_refined's two-sided KS bracket with the centile grid
    read off the mergeable integer-tick histogram instead of exact
    percentile — completing the drift family's scale-safe edge path
    (PSI twin: drift_psi_histogram; the bracket algebra is valid for
    ANY partition of the line, so quantized edges only widen the
    bracket by at most one bin's mass). Aggregation state is O(bins);
    the cumulative windows run over the ≤100-row bucket table, never
    data. All-integer until the final fractions — engine-identical."""
    from pyspark.sql import Window

    o = _tick_populations(spark, sf_dir)
    edge_ticks = [int(x) for x in _tick_hist_edges(o, N_KS_BINS).first()["e"]]
    b = o.select(
        "is_ref",
        bisect_bucket("ticks", edge_ticks).alias("bucket"),
    )
    counts = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_b"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_b"),
    # grid-sized barrier before the totals fan-out (r13) — see
    # _bucket_counts
    ).localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("ref_b").alias("n_ref"), F.sum("cur_b").alias("n_cur")
    )
    tot = counts.crossJoin(F.broadcast(totals))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = tot.select(
        "bucket",
        "n_ref",
        "n_cur",
        (F.col("ref_b") / F.col("n_ref")).alias("p_b"),
        (F.col("cur_b") / F.col("n_cur")).alias("q_b"),
        (F.sum("ref_b").over(w) / F.col("n_ref")).alias("cum_p"),
        (F.sum("cur_b").over(w) / F.col("n_cur")).alias("cum_q"),
    )
    wl = Window.orderBy("bucket")
    d = cum.select(
        "n_ref",
        "n_cur",
        "p_b",
        "q_b",
        F.abs(F.col("cum_p") - F.col("cum_q")).alias("d_right"),
        F.lag(F.abs(F.col("cum_p") - F.col("cum_q")), 1, 0.0)
        .over(wl)
        .alias("d_left"),
    )
    return d.groupBy("n_ref", "n_cur").agg(
        F.round(F.max("d_right"), 6).alias("ks_lower"),
        F.round(
            F.max(F.col("d_left") + F.greatest("p_b", "q_b")), 6
        ).alias("ks_upper"),
    ).select("ks_lower", "ks_upper", "n_ref", "n_cur")


_DRIFT_KS_HISTOGRAM_SQL = f"""
WITH {_hist_edges_ctes(N_KS_BINS)},
b AS (
  SELECT is_ref, 1 + len(list_filter(e, x -> ticks > x)) AS bucket
  FROM src CROSS JOIN edges
),
counts AS (
  SELECT bucket,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_b,
         SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_b
  FROM b GROUP BY bucket
),
tot AS (
  SELECT bucket, ref_b, cur_b,
         (SELECT SUM(ref_b) FROM counts) AS n_ref,
         (SELECT SUM(cur_b) FROM counts) AS n_cur
  FROM counts
),
cum AS (
  SELECT bucket, n_ref, n_cur,
         ref_b / CAST(n_ref AS DOUBLE) AS p_b,
         cur_b / CAST(n_cur AS DOUBLE) AS q_b,
         SUM(ref_b) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / CAST(n_ref AS DOUBLE) AS cum_p,
         SUM(cur_b) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / CAST(n_cur AS DOUBLE) AS cum_q
  FROM tot
),
d AS (
  SELECT n_ref, n_cur, p_b, q_b,
         ABS(cum_p - cum_q) AS d_right,
         COALESCE(LAG(ABS(cum_p - cum_q)) OVER (ORDER BY bucket), 0.0)
           AS d_left
  FROM cum
)
SELECT ROUND(MAX(d_right), 6) AS ks_lower,
       ROUND(MAX(d_left + GREATEST(p_b, q_b)), 6) AS ks_upper,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur
FROM d GROUP BY n_ref, n_cur
"""


def _segment_psi(b: DataFrame) -> DataFrame:
    """(segment, is_ref, bucket) → per-segment PSI report. Shared by
    the exact-percentile and histogram-edge by-segment queries; see
    q_drift_psi_by_segment for the shape discussion."""
    counts = b.groupBy("segment", "bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_n"),
    )
    from pyspark.sql import Window

    wseg = Window.partitionBy("segment")
    frac = counts.withColumn(
        "ref_total", F.sum("ref_n").over(wseg)
    ).withColumn("cur_total", F.sum("cur_n").over(wseg))
    # guard the totals: a segment present on only ONE side of the
    # split has ref_total or cur_total 0, and under ANSI mode (the
    # Spark 4 default this engine runs with) a bare division would
    # throw DIVIDE_BY_ZERO instead of the documented NULL psi — the
    # fixture has every priority on both sides, so only this guard
    # (not the oracle) covers the one-sided-segment case
    p = F.when(F.col("ref_total") > 0, F.col("ref_n") / F.col("ref_total"))
    q = F.when(F.col("cur_total") > 0, F.col("cur_n") / F.col("cur_total"))
    contrib = F.when((p > 0) & (q > 0), (q - p) * F.log(q / p))
    return (
        frac.groupBy("segment")
        .agg(
            F.max("ref_total").alias("ref_n"),
            F.max("cur_total").alias("cur_n"),
            F.round(F.sum(contrib), 6).alias("psi"),
            F.count(F.when(contrib.isNotNull(), 1)).alias("n_buckets_used"),
        )
        .select(
            "segment",
            "ref_n",
            "cur_n",
            F.when(
                (F.col("ref_n") > 0) & (F.col("cur_n") > 0), F.col("psi")
            ).alias("psi"),
            "n_buckets_used",
        )
        .orderBy("segment")
    )


def q_drift_psi_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEGMENT PSI — the "which slice drifted" report: the global
    drift_psi score can stay quiet while one segment shifts hard the
    other way; slicing by o_orderpriority localizes the alarm (the
    standard ml-ops segment-drift view). One shared edge aggregate
    over the whole reference (broadcast 1-row), ONE scan producing
    (segment, bucket, is_ref) counts map-side-combinably, then the
    PSI sum per segment over the |segments|×|buckets| count table.
    Segments with an empty side report NULL psi (insufficient data),
    not a fake zero. Fixture-exact percentile edges — at 100 TB use
    q_drift_psi_by_segment_histogram, the same report with mergeable
    O(bins) edge derivation."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderdate") < SPLIT_DATE).alias("is_ref"),
        F.col("o_orderpriority").alias("segment"),
        "o_totalprice",
    )
    qs = ", ".join(str(q) for q in _PSI_QS)
    edge_vals = list(
        o.filter(F.col("is_ref"))
        .agg(F.expr(f"percentile(o_totalprice, array({qs}))").alias("e"))
        .first()["e"]
    )
    b = o.select(
        "segment",
        "is_ref",
        bisect_bucket("o_totalprice", edge_vals).alias("bucket"),
    )
    return _segment_psi(b)


def q_drift_psi_by_segment_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q_drift_psi_by_segment with the decile edges read off the
    mergeable integer-tick histogram (_tick_hist_edges) instead of
    exact percentile — the 100-TB edge path for the segment report,
    same as drift_psi_histogram is for the global one. The edges stay
    SHARED (derived from the whole reference population): per-segment
    drift must be measured against one common grid or the per-segment
    scores are not comparable. O(bins) aggregation state, all-integer
    until the final fractions — engine-bit-identical, oracle-PASS."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderdate") < SPLIT_DATE).alias("is_ref"),
        F.col("o_orderpriority").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("ticks"),
    )
    edge_ticks = [int(x) for x in _tick_hist_edges(o, N_PSI_BUCKETS).first()["e"]]
    b = o.select(
        "segment",
        "is_ref",
        bisect_bucket("ticks", edge_ticks).alias("bucket"),
    )
    return _segment_psi(b)


_DRIFT_PSI_BY_SEGMENT_HISTOGRAM_SQL = f"""
WITH {_hist_edges_ctes(N_PSI_BUCKETS,
                       extra_src_cols="o_orderpriority AS segment, ")},
b AS (
  SELECT segment, is_ref, 1 + len(list_filter(e, x -> ticks > x)) AS bucket
  FROM src CROSS JOIN edges
),
counts AS (
  SELECT segment, bucket,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_n,
         SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_n
  FROM b GROUP BY segment, bucket
),
frac AS (
  SELECT *,
         SUM(ref_n) OVER (PARTITION BY segment) AS ref_total,
         SUM(cur_n) OVER (PARTITION BY segment) AS cur_total
  FROM counts
)
SELECT segment,
       CAST(MAX(ref_total) AS BIGINT) AS ref_n,
       CAST(MAX(cur_total) AS BIGINT) AS cur_n,
       CASE WHEN MAX(ref_total) > 0 AND MAX(cur_total) > 0 THEN
         ROUND(SUM(CASE WHEN ref_n > 0 AND cur_n > 0 THEN
           (cur_n / CAST(cur_total AS DOUBLE)
            - ref_n / CAST(ref_total AS DOUBLE))
           * ln((cur_n / CAST(cur_total AS DOUBLE))
                / (ref_n / CAST(ref_total AS DOUBLE))) END), 6)
       END AS psi,
       CAST(COUNT(CASE WHEN ref_n > 0 AND cur_n > 0 THEN 1 END) AS BIGINT)
         AS n_buckets_used
FROM frac
GROUP BY segment
ORDER BY segment
"""


_DRIFT_PSI_BY_SEGMENT_SQL = f"""
WITH o AS (
  SELECT (o_orderdate < DATE '{SPLIT_DATE}') AS is_ref,
         o_orderpriority AS segment, o_totalprice
  FROM orders
),
e AS (
  SELECT quantile_cont(o_totalprice, [{", ".join(str(q) for q in _PSI_QS)}])
           AS e
  FROM o WHERE is_ref
),
b AS (
  SELECT segment, is_ref,
         1 + len(list_filter(e, x -> o_totalprice > x)) AS bucket
  FROM o CROSS JOIN e
),
counts AS (
  SELECT segment, bucket,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_n,
         SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_n
  FROM b GROUP BY segment, bucket
),
frac AS (
  SELECT *,
         SUM(ref_n) OVER (PARTITION BY segment) AS ref_total,
         SUM(cur_n) OVER (PARTITION BY segment) AS cur_total
  FROM counts
)
SELECT segment,
       CAST(MAX(ref_total) AS BIGINT) AS ref_n,
       CAST(MAX(cur_total) AS BIGINT) AS cur_n,
       CASE WHEN MAX(ref_total) > 0 AND MAX(cur_total) > 0 THEN
         ROUND(SUM(CASE WHEN ref_n > 0 AND cur_n > 0 THEN
           (cur_n / CAST(cur_total AS DOUBLE)
            - ref_n / CAST(ref_total AS DOUBLE))
           * ln((cur_n / CAST(cur_total AS DOUBLE))
                / (ref_n / CAST(ref_total AS DOUBLE))) END), 6)
       END AS psi,
       CAST(COUNT(CASE WHEN ref_n > 0 AND cur_n > 0 THEN 1 END) AS BIGINT)
         AS n_buckets_used
FROM frac
GROUP BY segment
ORDER BY segment
"""


QUERIES = {
    "drift_psi": q_drift_psi,
    "drift_psi_by_segment": q_drift_psi_by_segment,
    "drift_psi_by_segment_histogram": q_drift_psi_by_segment_histogram,
    "drift_psi_histogram": q_drift_psi_histogram,
    "drift_ks_histogram": q_drift_ks_histogram,
    "drift_ks": q_drift_ks,
    "drift_ks_refined": q_drift_ks_refined,
    "drift_chi2": q_drift_chi2,
    "drift_cusum": q_drift_cusum,
}
ORACLE = {
    "drift_psi": _DRIFT_PSI_SQL,
    "drift_psi_by_segment": _DRIFT_PSI_BY_SEGMENT_SQL,
    "drift_psi_by_segment_histogram": _DRIFT_PSI_BY_SEGMENT_HISTOGRAM_SQL,
    "drift_psi_histogram": _DRIFT_PSI_HISTOGRAM_SQL,
    "drift_ks_histogram": _DRIFT_KS_HISTOGRAM_SQL,
    "drift_ks": _DRIFT_KS_SQL,
    "drift_ks_refined": _DRIFT_KS_REFINED_SQL,
    "drift_chi2": _DRIFT_CHI2_SQL,
    "drift_cusum": _DRIFT_CUSUM_SQL,
}
