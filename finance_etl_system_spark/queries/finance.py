"""Finance time-series operators over the events table — the query
family the reference's domain (OHLCV pipelines, reference
spark-job/etl_job.py:271-356) implies but never implements as set
operations: bar resampling, VWAP, drawdown, cross-symbol correlation,
and gap-based sessionization.

Series mapping (same as queries/indicators.py): user_id ≙ symbol,
ts ≙ trade time, value ≙ price, volume ≙ (event_id % 97) + 1.
(user_id, ts) is unique in the fixtures, so ``unix_micros(ts)`` is a
total order key within a symbol — DuckDB's ``epoch_us(ts)`` computes
the identical long (both engines truncate the parquet ns timestamps
to µs, see catalog.load_table).

Determinism policy (SCALE.md): prices are 2-dp quantized → integer
cents ("ticks") sum exactly in any accumulation order; every ratio is
computed from exact longs with the IDENTICAL double expression on
both engines; returns are scaled-integer gross returns computed with
*integer division* (``(10_000 * ticks) div prev_ticks`` — the 10^4 scale
keeps the five correlation sufficient statistics inside long range
even for the fixture's 400x single-day price swings) — no
float rounding anywhere upstream of the final ROUND.

Scale notes:
- every operator here is one groupBy/window shuffle keyed on symbol
  (or symbol × bucket) — partial aggregation happens map-side, state
  per key is O(1), so the plans survive 1000 executors unchanged;
- pairwise correlation is inherently quadratic in symbols, so it is
  computed over a bounded watchlist (user_id < 50): the per-date
  self-join fans out |watchlist|² rows per day, independent of total
  data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.columns import tick_sum


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("user_id").alias("symbol"),
        F.col("ts"),
        F.unix_micros(F.col("ts")).alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("ticks"),
        ((F.col("event_id") % 97) + 1).cast("long").alias("volume"),
    )


def q_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC bars — the hypertable downsample every TSDB ships.

    One shuffle on (symbol, week); open/close are min_by/max_by on the
    µs order key (exact argmin — no window, no second pass), high/low
    plain min/max, all map-side combinable.
    """
    s = _series(spark, sf_dir)
    return (
        s.groupBy("symbol", F.date_trunc("week", F.col("ts")).alias("week"))
        .agg(
            F.round(F.min_by("ticks", "k") / 100.0, 2).alias("open"),
            F.round(F.max("ticks") / 100.0, 2).alias("high"),
            F.round(F.min("ticks") / 100.0, 2).alias("low"),
            F.round(F.max_by("ticks", "k") / 100.0, 2).alias("close"),
            F.sum("volume").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .orderBy("symbol", "week")
    )


_OHLC_RESAMPLE_SQL = """
WITH s AS (
  SELECT user_id AS symbol, ts, epoch_us(ts) AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks,
         CAST(event_id % 97 + 1 AS BIGINT) AS volume
  FROM events
)
SELECT symbol, date_trunc('week', ts) AS week,
       ROUND(arg_min(ticks, k) / 100.0, 2) AS "open",
       ROUND(MAX(ticks) / 100.0, 2) AS high,
       ROUND(MIN(ticks) / 100.0, 2) AS low,
       ROUND(arg_max(ticks, k) / 100.0, 2) AS "close",
       CAST(SUM(volume) AS BIGINT) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_trades
FROM s
GROUP BY symbol, date_trunc('week', ts)
ORDER BY symbol, week
"""


def q_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average price per symbol. The weighted
    sum is exact long arithmetic (ticks × integer volume); one
    division at the end with the identical formula on both engines."""
    s = _series(spark, sf_dir)
    return (
        s.groupBy("symbol", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("ticks") * F.col("volume")).alias("pv"),
            F.sum("volume").alias("vol"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            "symbol",
            "d",
            # round-half-up at 6dp done in EXACT integer space
            # (vwap*1e6 = pv*1e4/vol): float rounding of the quotient
            # lands on .5 boundaries and the engines disagree there
            (F.expr("(pv * 20000 + vol) div (2 * vol)") / 1000000.0).alias("vwap"),
            F.col("vol").alias("volume"),
            "n_trades",
        )
        .orderBy("symbol", "d")
    )


_VWAP_DAILY_SQL = """
WITH s AS (
  SELECT user_id AS symbol, CAST(ts AS DATE) AS d,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks,
         CAST(event_id % 97 + 1 AS BIGINT) AS volume
  FROM events
),
g AS (
  SELECT symbol, d,
         CAST(SUM(ticks * volume) AS BIGINT) AS pv,
         CAST(SUM(volume) AS BIGINT) AS vol,
         CAST(COUNT(*) AS BIGINT) AS n_trades
  FROM s GROUP BY symbol, d
)
SELECT symbol, d, ((pv * 20000 + vol) // (2 * vol)) / 1000000.0 AS vwap,
       vol AS volume, n_trades
FROM g ORDER BY symbol, d
"""


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol maximum drawdown: running peak via a cumulative-max
    window (one shuffle on symbol), drawdown ratio from exact tick
    longs, then a plain max per symbol."""
    s = _series(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = s.withColumn("peak", F.max("ticks").over(w)).withColumn(
        "dd", (F.col("peak") - F.col("ticks")) / F.col("peak").cast("double")
    )
    return (
        dd.groupBy("symbol")
        .agg(
            F.round(F.max("dd"), 6).alias("max_drawdown"),
            F.round(F.max("ticks") / 100.0, 2).alias("peak_price"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .orderBy("symbol")
    )


_MAX_DRAWDOWN_SQL = """
WITH s AS (
  SELECT user_id AS symbol, epoch_us(ts) AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks
  FROM events
),
dd AS (
  SELECT symbol, ticks,
         MAX(ticks) OVER (PARTITION BY symbol ORDER BY k
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM s
)
SELECT symbol,
       ROUND(MAX((peak - ticks) / CAST(peak AS DOUBLE)), 6) AS max_drawdown,
       ROUND(MAX(ticks) / 100.0, 2) AS peak_price,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM dd GROUP BY symbol ORDER BY symbol
"""


def q_symbol_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation of daily gross returns across a bounded
    watchlist (symbols < 50) — the classic risk-matrix query.

    Returns are scaled-integer gross returns
    ``(10_000 * close) div prev_close`` (integer division on
    positive longs — identical truncation on both engines), so the
    correlation's five sufficient statistics are EXACT longs; the
    final Pearson formula is one deterministic double expression.
    Plan: daily argmax agg → symbol-window lag → date-keyed self-join
    (|watchlist|² fan-out per date) → pair aggregate.
    """
    s = _series(spark, sf_dir).filter(F.col("symbol") < 50)
    daily = s.groupBy("symbol", F.to_date("ts").alias("d")).agg(
        F.max_by("ticks", "k").alias("close_ticks")
    )
    w = Window.partitionBy("symbol").orderBy("d")
    ret = (
        daily.withColumn("prev", F.lag("close_ticks").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "symbol", "d", F.expr("(10000 * close_ticks) div prev").alias("r")
        )
    )
    a = ret.select(
        F.col("symbol").alias("sym_a"), "d", F.col("r").alias("ra")
    )
    b = ret.select(
        F.col("symbol").alias("sym_b"), F.col("d").alias("d2"), F.col("r").alias("rb")
    )
    pairs = a.join(b, (a.d == b.d2) & (a.sym_a < b.sym_b))
    g = pairs.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("ra").alias("sx"),
        F.sum("rb").alias("sy"),
        F.sum(F.col("ra") * F.col("rb")).alias("sxy"),
        F.sum(F.col("ra") * F.col("ra")).alias("sxx"),
        F.sum(F.col("rb") * F.col("rb")).alias("syy"),
    )
    g = (
        g.filter(F.col("n_days") >= 15)
        .withColumn("cov_num", F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .withColumn("varx", F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .withColumn("vary", F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy"))
        .filter((F.col("varx") > 0) & (F.col("vary") > 0))
    )
    return g.select(
        "sym_a",
        "sym_b",
        "n_days",
        F.round(
            F.col("cov_num") / F.sqrt(F.col("varx")) / F.sqrt(F.col("vary")), 6
        ).alias("corr_r"),
    ).orderBy("sym_a", "sym_b")


_SYMBOL_CORRELATION_SQL = """
WITH s AS (
  SELECT user_id AS symbol, CAST(ts AS DATE) AS d, epoch_us(ts) AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks
  FROM events WHERE user_id < 50
),
daily AS (
  SELECT symbol, d, arg_max(ticks, k) AS close_ticks
  FROM s GROUP BY symbol, d
),
ret AS (
  SELECT symbol, d, (10000 * close_ticks) // prev AS r
  FROM (SELECT symbol, d, close_ticks,
               LAG(close_ticks) OVER (PARTITION BY symbol ORDER BY d) AS prev
        FROM daily)
  WHERE prev IS NOT NULL
),
g AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(a.r) AS BIGINT) AS sx, CAST(SUM(b.r) AS BIGINT) AS sy,
         CAST(SUM(a.r * b.r) AS BIGINT) AS sxy,
         CAST(SUM(a.r * a.r) AS BIGINT) AS sxx,
         CAST(SUM(b.r * b.r) AS BIGINT) AS syy
  FROM ret a JOIN ret b ON a.d = b.d AND a.symbol < b.symbol
  GROUP BY a.symbol, b.symbol
),
f AS (
  SELECT sym_a, sym_b, n_days,
         n_days * sxy - sx * sy AS cov_num,
         n_days * sxx - sx * sx AS varx,
         n_days * syy - sy * sy AS vary
  FROM g WHERE n_days >= 15
)
SELECT sym_a, sym_b, n_days,
       ROUND(cov_num / SQRT(varx) / SQRT(vary), 6) AS corr_r
FROM f WHERE varx > 0 AND vary > 0
ORDER BY sym_a, sym_b
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-min inactivity gap) — the
    lag-flag-cumsum idiom. Two window passes over ONE shuffle on
    user (lag and running-sum share the partitioning), then a
    (user, session) aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.unix_micros(F.col("ts")).alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("ticks"),
    )
    w = Window.partitionBy("user_id").orderBy("k")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            (F.col("k") - F.lag("k").over(w)) > 1_800_000_000, 1
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("ticks") / 100.0, 2).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


_SESSIONIZE_EVENTS_SQL = """
WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks
  FROM events
),
flagged AS (
  SELECT user_id, ts, ticks,
         CASE WHEN k - LAG(k) OVER (PARTITION BY user_id ORDER BY k)
                   > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM e
),
sess AS (
  SELECT user_id, ts, ticks,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(ticks) / 100.0, 2) AS session_value
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_yoy_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — yearly cent totals
    (exact), then one lag window over the tiny (nation × year)
    aggregate. Customer and nation dims broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(tick_sum("o_totalprice").alias("ticks"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    return (
        yearly.withColumn("prev", F.lag("ticks").over(w))
        .select(
            "n_name",
            "yr",
            F.round(F.col("ticks") / 100.0, 2).alias("revenue"),
            F.round(
                100.0 * (F.col("ticks") - F.col("prev")) / F.col("prev"), 6
            ).alias("yoy_pct"),
        )
        .orderBy("n_name", "yr")
    )


_YOY_NATION_REVENUE_SQL = """
WITH yearly AS (
  SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS ticks
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, yr
),
lagged AS (
  SELECT n_name, yr, ticks,
         LAG(ticks) OVER (PARTITION BY n_name ORDER BY yr) AS prev
  FROM yearly
)
SELECT n_name, yr, ROUND(ticks / 100.0, 2) AS revenue,
       ROUND(100.0 * (ticks - prev) / prev, 6) AS yoy_pct
FROM lagged ORDER BY n_name, yr
"""
def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily TIME-weighted average price per symbol — VWAP's twin for
    irregularly-spaced observations: each price holds until the next
    tick, weight = holding duration (integer SECONDS; µs products
    would overflow long day-sums at real tick rates, seconds keep the
    worst case ~1e15 with the same cross-engine exactness). The final
    division reuses the exact half-up integer rounding of vwap_daily.

    One window (symbol-partitioned lead) + one groupBy — both on the
    symbol shuffle, map-side combinable."""
    s = _series(spark, sf_dir)
    # lead within the same (symbol, day)
    dur = (
        s.withColumn("d", F.to_date("ts"))
        .withColumn(
            "dur_s",
            (
                (F.lead("k").over(
                    Window.partitionBy("symbol", "d").orderBy("k")
                ) - F.col("k")) / F.lit(1_000_000)
            ).cast("long"),
        )
        .filter(F.col("dur_s").isNotNull())
    )
    g = dur.groupBy("symbol", "d").agg(
        F.sum(F.col("ticks") * F.col("dur_s")).alias("td"),
        F.sum("dur_s").alias("tot_s"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    return (
        g.filter(F.col("tot_s") > 0)
        .select(
            "symbol",
            "d",
            (F.expr("(td * 20000 + tot_s) div (2 * tot_s)") / 1000000.0).alias(
                "twap"
            ),
            F.col("tot_s").alias("span_seconds"),
            "n_intervals",
        )
        .orderBy("symbol", "d")
    )


_TWAP_DAILY_SQL = """
WITH s AS (
  SELECT user_id AS symbol, CAST(ts AS DATE) AS d,
         epoch_us(ts) AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks
  FROM events
),
dur AS (
  SELECT symbol, d, ticks,
         CAST((LEAD(k) OVER (PARTITION BY symbol, d ORDER BY k) - k)
              // 1000000 AS BIGINT) AS dur_s
  FROM s
),
g AS (
  SELECT symbol, d,
         CAST(SUM(ticks * dur_s) AS BIGINT) AS td,
         CAST(SUM(dur_s) AS BIGINT) AS tot_s,
         CAST(COUNT(*) AS BIGINT) AS n_intervals
  FROM dur WHERE dur_s IS NOT NULL
  GROUP BY symbol, d
)
SELECT symbol, d,
       ((td * 20000 + tot_s) // (2 * tot_s)) / 1000000.0 AS twap,
       tot_s AS span_seconds,
       n_intervals
FROM g
WHERE tot_s > 0
ORDER BY symbol, d
"""


_ROLL_CORR_WIN = 30
_ROLL_CORR_MIN = 10


def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day ROLLING Pearson correlation between two symbols'
    daily closing ticks (symbol_correlation's windowed twin: regime
    shifts show up as the rolling series decaying, not as one global
    number).

    All five sufficient statistics are integer-exact window sums of
    longs (ticks ≤ ~10^5, 30-row frames — products stay ~10^12,
    far inside long range); the one float expression (corr formula)
    is identical on both engines, so 6dp rounding agrees bitwise.
    One broadcast-size join (two daily series) + one unpartitioned
    window over |days| rows — calendar-sized, never data-sized."""
    s = _series(spark, sf_dir)
    daily = (
        s.filter(F.col("symbol").isin(1, 2))
        .groupBy("symbol", F.to_date("ts").alias("d"))
        .agg(F.max_by("ticks", "k").alias("ticks"))
    )
    x = daily.filter(F.col("symbol") == 1).select("d", F.col("ticks").alias("x"))
    y = daily.filter(F.col("symbol") == 2).select("d", F.col("ticks").alias("y"))
    # the hint fixes the build side at plan time; left to AQE, it is
    # whichever daily series finishes first, and the generated code
    # differs from run to run
    j = x.join(F.broadcast(y), "d")
    w = Window.orderBy("d").rowsBetween(-(_ROLL_CORR_WIN - 1), 0)
    n = F.count(F.lit(1)).over(w)
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    out = (
        j.select(
            "d",
            n.alias("n_days"),
            F.when(
                (vx > 0) & (vy > 0),
                F.round(cov / F.sqrt(vx.cast("double") * vy.cast("double")), 6),
            ).alias("roll_corr"),
        )
        .filter(F.col("n_days") >= _ROLL_CORR_MIN)
    )
    return out.orderBy("d")


_ROLLING_CORRELATION_SQL = f"""
WITH s AS (
  SELECT user_id AS symbol, CAST(ts AS DATE) AS d, epoch_us(ts) AS k,
         CAST(ROUND(value * 100) AS BIGINT) AS ticks
  FROM events WHERE user_id IN (1, 2)
),
daily AS (
  SELECT symbol, d, max_by(ticks, k) AS ticks
  FROM s GROUP BY symbol, d
),
j AS (
  SELECT x.d, x.ticks AS x, y.ticks AS y
  FROM (SELECT d, ticks FROM daily WHERE symbol = 1) x
  JOIN (SELECT d, ticks FROM daily WHERE symbol = 2) y USING (d)
),
wsum AS (
  SELECT d,
         CAST(COUNT(*) OVER win AS BIGINT) AS n,
         CAST(SUM(x) OVER win AS BIGINT) AS sx,
         CAST(SUM(y) OVER win AS BIGINT) AS sy,
         CAST(SUM(x * x) OVER win AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER win AS BIGINT) AS syy,
         CAST(SUM(x * y) OVER win AS BIGINT) AS sxy
  FROM j
  WINDOW win AS (ORDER BY d ROWS BETWEEN {_ROLL_CORR_WIN - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT d, n AS n_days,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN ROUND((n * sxy - sx * sy) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS roll_corr
FROM wsum
WHERE n >= {_ROLL_CORR_MIN}
ORDER BY d
"""


QUERIES = {
    "ohlc_resample": q_ohlc_resample,
    "vwap_daily": q_vwap_daily,
    "twap_daily": q_twap_daily,
    "rolling_correlation": q_rolling_correlation,
    "max_drawdown": q_max_drawdown,
    "symbol_correlation": q_symbol_correlation,
    "sessionize_events": q_sessionize_events,
    "yoy_nation_revenue": q_yoy_nation_revenue,
}

ORACLE = {
    "ohlc_resample": _OHLC_RESAMPLE_SQL,
    "vwap_daily": _VWAP_DAILY_SQL,
    "twap_daily": _TWAP_DAILY_SQL,
    "rolling_correlation": _ROLLING_CORRELATION_SQL,
    "max_drawdown": _MAX_DRAWDOWN_SQL,
    "symbol_correlation": _SYMBOL_CORRELATION_SQL,
    "sessionize_events": _SESSIONIZE_EVENTS_SQL,
    "yoy_nation_revenue": _YOY_NATION_REVENUE_SQL,
}
