"""Third tier of classic analytic shapes (TPC-H Q6/Q9/Q12/Q21,
adapted to the fixture star schema — the fixtures carry no
l_shipmode/l_commitdate/l_receiptdate or partsupp, so lateness is
derived from ship-vs-order dates and unit cost from p_retailprice).

Covers the plan families the first two analytics tiers do not:
- Q6: pure scan-side aggregation — every predicate must reach the
  parquet scan (PushedFilters), no join, no shuffle beyond the final
  single-row reduce. The canonical "is pushdown working" probe.
- Q12: join + conditional two-way counts (sum-of-CASE) bucketed by a
  derived column.
- Q21: the hardest shape here — a big-big SELF-join family on the
  fact table (EXISTS another-supplier row, NOT EXISTS another-late-
  supplier row). All three scans shuffle on l_orderkey, so Catalyst
  reuses one exchange layout; the semi/anti sides are projected to
  (orderkey, suppkey) before the exchange.
- Q9: profit decomposition over a 5-way join grouped by nation x year.

The reference has no joins at all (SURVEY §2.3); this tier is harness
coverage proving warehouse-grade planning.

Determinism: money sums rounded 2dp on both engines; date arithmetic
is done on DATE-cast columns on both engines (timestamp day-boundary
semantics differ between Spark datediff and DuckDB date_diff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.columns import money_sum


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: revenue increase from hypothetically dropping small
    discounts — one year of lineitem, three scan predicates, one sum.
    The whole WHERE clause must appear in PushedFilters; the job is a
    scan + partial agg + single-row final agg (no join, no wide
    shuffle) at any scale."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 10_000
            ).alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_FORECAST_REVENUE_SQL = """
SELECT ROUND(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000, 0)
                AS BIGINT)) / 10000.0, 2) AS forecast_revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_ship_speed_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: per shipping-speed bucket, how many urgent vs
    non-urgent orders shipped — join + CASE bucketing + conditional
    counts. The fixture has no l_shipmode, so the bucket is derived
    from ship latency (FAST < 30 d <= MEDIUM < 90 d <= SLOW)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    lag_days = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    speed = (
        F.when(lag_days < 30, "FAST")
        .when(lag_days < 90, "MEDIUM")
        .otherwise("SLOW")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .withColumn("ship_speed", speed)
        .groupBy("ship_speed")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("urgent_lines"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("normal_lines"),
        )
        .orderBy("ship_speed")
    )


_SHIP_SPEED_PRIORITY_SQL = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) < 30 THEN 'FAST'
            WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) < 90 THEN 'MEDIUM'
            ELSE 'SLOW' END AS ship_speed,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS urgent_lines,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS normal_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY ship_speed
ORDER BY ship_speed
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the SOLE late shipper on a
    finalized multi-supplier order. Late := shipped > 75 days after
    the order date (the fixture has no l_receiptdate/l_commitdate).

    Plan: lineitem x orders ONCE, projected to (orderkey, suppkey,
    late) and eagerly materialized — then one left_semi (exists
    another supplier on the order) and one left_anti (not exists
    another LATE supplier) over the materialized frame. Before r13
    the three legs each re-derived the full fact join (the committed
    before-plan shows lineitem scanned 3x: column-pruning differences
    between the legs defeat exchange reuse); the checkpoint is a
    3-narrow-column projection of the fact join, so materializing it
    once costs far less than running the join three times at any SF.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    lo = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate").cast("date")
                > F.date_add(F.col("o_orderdate").cast("date"), 75)
            ).alias("late"),
        )
        .localCheckpoint(eager=True)
    )
    l1 = lo.filter(F.col("late"))
    others = lo.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    late_others = l1.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    sole_late = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        ).join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(s), sole_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


_WAITING_SUPPLIERS_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND CAST(l1.l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 75 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND o3.o_orderstatus = 'F'
      AND CAST(l3.l_shipdate AS DATE) > CAST(o3.o_orderdate AS DATE) + INTERVAL 75 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit by supplier nation x order year for one product
    family. The fixture has no partsupp, so unit cost is proxied as
    60% of p_retailprice (deterministic, join-shaped like ps_supplycost).

    part is filtered then broadcast; lineitem x orders is the only
    big-big join (on l_orderkey); nation broadcasts onto supplier.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(money_sum(profit, 10_000).alias("profit"))
        .orderBy(F.col("nation").asc(), F.col("order_year").desc())
    )


_PRODUCT_PROFIT_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)
                             - 0.6 * p_retailprice * l_quantity) * 10000, 0)
                      AS BIGINT)) / 10000.0, 2) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, order_year
ORDER BY nation, order_year DESC
"""


def q_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 25 part pairs most often bought
    in the same order. Self-join on l_orderkey with p1 < p2 so each
    unordered pair counts once per order (distinct parts per order
    first, so duplicate lines don't inflate counts).

    Scale: pair volume is quadratic in PARTS-PER-ORDER (small, bounded
    by basket size), linear in orders — the safe self-join shape. Both
    legs share the l_orderkey hash partitioning; the pair groupBy is
    map-side combinable.
    """
    l = load_table(spark, sf_dir, "lineitem")
    op = l.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = op.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("p2"))
    return (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(25)
    )


_PART_COOCCURRENCE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
FROM op a
JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY p1, p2
ORDER BY n_orders DESC, p1, p2
LIMIT 25
"""


def q_customer_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month, with
    the count still ordering 1/3/6+ months later — the two-level
    aggregate + conditional-count shape every growth dashboard runs.

    Month arithmetic is integer (yyyy*12+mm) on both engines. Each
    customer is in exactly one cohort, so one aggregate per customer
    (cohort month, last month ordered) turns the four distinct counts
    into plain conditional counts: no Expand of every row four times,
    and none of the run-varying Expand order Spark plans for several
    distinct aggregates.
    """
    o = load_table(spark, sf_dir, "orders")
    mon = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    per_cust = (
        o.where(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.min(mon).alias("cohort_mon"), F.max(mon).alias("last_mon"))
        .select("cohort_mon", (F.col("last_mon") - F.col("cohort_mon")).alias("age"))
    )
    active = [
        F.count(F.when(F.col("age") >= m, 1)).alias(f"active_{m}mo") for m in (1, 3, 6)
    ]
    return (
        per_cust.groupBy("cohort_mon")
        .agg(F.count(F.lit(1)).alias("cohort_size"), *active)
        .orderBy("cohort_mon")
    )


_CUSTOMER_RETENTION_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS ck,
         CAST(EXTRACT(year FROM o_orderdate) * 12 + EXTRACT(month FROM o_orderdate) - 1 AS INT) AS mon
  FROM orders
),
first AS (SELECT ck, MIN(mon) AS cohort_mon FROM per_cust GROUP BY ck)
SELECT cohort_mon,
       COUNT(DISTINCT per_cust.ck) AS cohort_size,
       COUNT(DISTINCT CASE WHEN mon - cohort_mon >= 1 THEN per_cust.ck END) AS active_1mo,
       COUNT(DISTINCT CASE WHEN mon - cohort_mon >= 3 THEN per_cust.ck END) AS active_3mo,
       COUNT(DISTINCT CASE WHEN mon - cohort_mon >= 6 THEN per_cust.ck END) AS active_6mo
FROM per_cust
JOIN first ON per_cust.ck = first.ck
GROUP BY cohort_mon
ORDER BY cohort_mon
"""


def q_cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full weekly cohort-retention MATRIX over the events stream —
    the (cohort_week × week_offset) grid every growth dashboard
    renders, where ``customer_retention`` above keeps only three
    fixed horizons. Shape: one distinct (user, week) projection feeds
    BOTH the cohort assignment (min week per user) and the activity
    join, all three shuffles keyed on user_id / cohort_week —
    output is grid-sized (weeks²), never user-sized.

    The week index is pure UTC epoch arithmetic
    (floor(epoch_days − 19723) / 7, 19723 = 2024-01-01) on BOTH
    engines, so the result is independent of the driver session's
    timezone — a ``to_date(timestamp)`` formulation would shift
    cohort boundaries under a non-UTC session (the CLAUDE.md
    arbitrary-session contract)."""
    e = load_table(spark, sf_dir, "events")
    week = F.floor(
        (F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)) - F.lit(19_723))
        / F.lit(7)
    ).cast("long")
    wk = e.select(F.col("user_id"), week.alias("week")).distinct()
    first = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        wk.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


_COHORT_RETENTION_WEEKLY_SQL = """
WITH wk AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR((FLOOR(epoch_us(ts) / 86400000000) - 19723) / 7) AS BIGINT) AS week
  FROM events
),
first AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id),
sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
          FROM first GROUP BY cohort_week)
SELECT f.cohort_week AS cohort_week,
       wk.week - f.cohort_week AS week_offset,
       CAST(COUNT(DISTINCT wk.user_id) AS BIGINT) AS n_active,
       s.cohort_size AS cohort_size,
       ROUND(COUNT(DISTINCT wk.user_id) / CAST(s.cohort_size AS DOUBLE), 6)
         AS retention
FROM wk
JOIN first f ON wk.user_id = f.user_id
JOIN sizes s ON s.cohort_week = f.cohort_week
GROUP BY f.cohort_week, wk.week - f.cohort_week, s.cohort_size
ORDER BY cohort_week, week_offset
"""


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent preceding click/view within a 7-day window, else 'none' —
    the marketing-attribution shape (and the ignore-nulls
    carry-forward idiom: ``last(col, ignorenulls) over rows between
    unbounded preceding and 1 preceding``, which Catalyst evaluates
    in the SAME single user-keyed window pass as sessionization).
    One shuffle on user_id; the purchase filter happens AFTER the
    carry-forward (a purchase needs non-purchase neighbors), and the
    final aggregate is touch-type-sized. Money accumulates as exact
    integer ticks (functions/columns policy)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("ticks"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("k", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    touch_k = F.when(F.col("event_type").isin("click", "view"), F.col("k"))
    carried = e.withColumn("touch_type", F.last(touch, True).over(w)) \
        .withColumn("touch_k", F.last(touch_k, True).over(w))
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("k") - F.col("touch_k") <= 604_800_000_000,
                    F.col("touch_type"),
                ),
                F.lit("none"),
            ).alias("touch_type"),
            "ticks",
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("ticks").cast("double") / 100.0, 2).alias(
                "attributed_value"
            ),
        )
        .orderBy("touch_type")
    )


_ATTRIBUTION_LAST_TOUCH_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks
  FROM events
),
t AS (
  SELECT *,
    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN event_type END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY k, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN k END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY k, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_k
  FROM e
)
SELECT COALESCE(CASE WHEN k - touch_k <= 604800000000 THEN touch_type END,
                'none') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       ROUND(SUM(ticks) / 100.0, 2) AS attributed_value
FROM t
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "forecast_revenue": q_forecast_revenue,
    "part_cooccurrence": q_part_cooccurrence,
    "customer_retention": q_customer_retention,
    "cohort_retention_weekly": q_cohort_retention_weekly,
    "attribution_last_touch": q_attribution_last_touch,
    "ship_speed_priority": q_ship_speed_priority,
    "waiting_suppliers": q_waiting_suppliers,
    "product_profit": q_product_profit,
}

ORACLE = {
    "forecast_revenue": _FORECAST_REVENUE_SQL,
    "part_cooccurrence": _PART_COOCCURRENCE_SQL,
    "customer_retention": _CUSTOMER_RETENTION_SQL,
    "cohort_retention_weekly": _COHORT_RETENTION_WEEKLY_SQL,
    "attribution_last_touch": _ATTRIBUTION_LAST_TOUCH_SQL,
    "ship_speed_priority": _SHIP_SPEED_PRIORITY_SQL,
    "waiting_suppliers": _WAITING_SUPPLIERS_SQL,
    "product_profit": _PRODUCT_PROFIT_SQL,
}
