"""Reusable column expressions.

These encode the repo's oracle-determinism policy (SCALE.md) in one
place: money rounds to 2dp, ratios to 6dp, balance comparisons go
through integer cents (exact in double, so Spark and DuckDB agree
bit-for-bit), and surrogate keys are deterministic sha2 digests — the
reference's nondeterministic `uuid()` row id (reference
spark-job/etl_job.py:257) is deliberately banned.

All builders return unevaluated Columns, so Catalyst folds them into
whole-stage codegen like hand-written expressions; none of them is a
UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def discounted_revenue(
    price: str = "l_extendedprice", discount: str = "l_discount"
) -> Column:
    """The star-schema revenue term `price * (1 - discount)`."""
    return F.col(price) * (1 - F.col(discount))


def money(col: Column | str) -> Column:
    """Money output policy: round half-up to 2dp."""
    return F.round(col, 2)


def ratio(col: Column | str) -> Column:
    """Ratio/percentage output policy: round to 6dp."""
    return F.round(col, 6)


def cents(col: Column | str = "c_acctbal") -> Column:
    """Balance as integer cents — exact in double arithmetic, so
    averages/sums over it are order-insensitive and engine-portable
    (raw double sums are not: they drift by summation order)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100)


def tick_sum(col: Column | str, scale: int = 100) -> Column:
    """Exact integer-tick aggregate: SUM(round(col·scale) as bigint).

    The order-insensitive money/ratio accumulator (round-7 policy):
    2dp money at scale=100, a 2dp×2dp product (revenue) at 1e4, a
    triple product (charge) at 1e6. Each row's tick is deterministic
    (one IEEE multiply chain identical in Spark and DuckDB, then one
    round), the bigint sum is EXACT in any order, and the caller does
    ONE double conversion + division + round at the end — so the
    emitted value is a pure function of the data, never of the
    partitioning. Raw double SUMs drift by accumulation order and can
    flip a rounding boundary between engines. Bigint bound: safe
    through ~1e7 rows/group at scale 1e6 on 1e5-unit values (Σ <
    9.2e18); a 100-TB group crossing that sums decimal(38,0) instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * scale, 0).cast("long"))


def money_sum(col: Column | str, scale: int = 100) -> Column:
    """ROUND(SUM(money), 2) via exact ticks (see tick_sum)."""
    return F.round(tick_sum(col, scale).cast("double") / scale, 2)


def tick_avg(col: Column | str, scale: int = 100, dp: int = 6) -> Column:
    """ROUND(AVG(col), dp) via exact ticks: Σticks/(scale·n) — one
    float division of two exact integers (see tick_sum). n is
    COUNT(col), not COUNT(*): AVG ignores NULLs, and tick_sum's SUM
    already skips them, so a COUNT(*) denominator would emit
    sum-over-nonnull / total-rows — neither AVG nor mean — the moment
    the column admits a NULL. Oracle twins must divide by COUNT(col)
    for the same reason."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        tick_sum(c, scale) / (F.lit(float(scale)) * F.count(c)), dp
    )


def half_away_div_sql(num: str, den: str) -> str:
    """Spark SQL text for ``num / den`` rounded half away from zero,
    for an integer ``num`` and a positive integer ``den``, in exact
    integer arithmetic: a float quotient can land either side of a
    .5 tie, and Spark and DuckDB then round it differently. The
    DuckDB twin is the same text with ``//`` for ``div`` and
    ``sign`` for ``CAST(signum(..) AS BIGINT)``."""
    return (
        f"CAST(signum({num}) AS BIGINT)"
        f" * ((2 * abs({num}) + {den}) div (2 * {den}))"
    )


def row_key(*cols: str, sep: str = "§") -> Column:
    """Deterministic surrogate key: sha2 over the concatenated natural
    key. Replaces the reference's `uuid()` id (etl_job.py:257) which
    breaks replay idempotency and oracle hashing."""
    return F.sha2(F.concat_ws(sep, *[F.col(c) for c in cols]), 256)


def accuracy_pct(pred: str, actual: str) -> Column:
    """The reference's prediction-accuracy expression
    `100*(1-|pred-actual|/actual)` (reference
    mongo-setup/mongo_init.py:118-136), 6dp policy."""
    return ratio(100.0 * (1.0 - F.abs(F.col(pred) - F.col(actual)) / F.col(actual)))
