"""Pipeline tests: clean/prepare semantics, incremental watermark ETL,
idempotent replay (SURVEY §5 items 2 and 4)."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from finance_etl_system_spark.pipeline.etl import (
    RAW_SCHEMA,
    clean_and_prepare,
    compute_processed,
    incremental_etl,
    read_watermarks,
)


def _make_raw_rows(symbols=("AAPL", "MSFT", "GOOG"), days=300, seed=7):
    rng = random.Random(seed)
    rows = []
    base = dt.date(2020, 1, 2)
    for sym in symbols:
        price = 100.0 + rng.random() * 50
        for i in range(days):
            d = base + dt.timedelta(days=i)
            price *= 1 + (rng.random() - 0.5) * 0.04
            date_str = d.isoformat()
            if rng.random() < 0.02:  # messy date needing regex salvage
                date_str = f"ts:{date_str}T00:00:00Z"
            o, c = round(price * 0.99, 2), round(price, 2)
            row = {
                "ticker": sym.lower() if rng.random() < 0.1 else sym,
                "date": date_str,
                "open": o,
                "high": round(max(o, c) * 1.01, 2),
                "low": round(min(o, c) * 0.99, 2),
                "close": None if rng.random() < 0.01 else c,
                "volume": rng.randrange(1_000, 1_000_000),
                "timestamp": f"{d.isoformat()}T16:00:00",
                "consumed_at": dt.datetime(2024, 1, 1),
            }
            rows.append(row)
            if rng.random() < 0.02:  # duplicate (ticker, date) row
                dup = dict(row)
                dup["timestamp"] = f"{d.isoformat()}T17:00:00"
                rows.append(dup)
    return rows


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(_make_raw_rows(), RAW_SCHEMA)


def test_clean_salvages_messy_dates(spark, raw_df):
    clean = clean_and_prepare(raw_df)
    pdf = clean.toPandas()
    # every surviving row has a parsed date; messy-but-salvageable rows kept
    assert pdf["trading_date"].notna().all()
    n_raw_valid = raw_df.filter("close IS NOT NULL").count()
    # only null-numeric rows and duplicate collapses reduce the count;
    # messy dates alone must NOT drop rows
    assert len(pdf) > 0.9 * n_raw_valid


def test_clean_dedups_symbol_date(spark, raw_df):
    clean = clean_and_prepare(raw_df)
    dup = (
        clean.groupBy("symbol", "trading_date").count().filter("count > 1").count()
    )
    assert dup == 0


def test_clean_uppercases_and_keys(spark, raw_df):
    clean = clean_and_prepare(raw_df)
    pdf = clean.select("symbol", "row_key").toPandas()
    assert pdf["symbol"].str.isupper().all()
    assert pdf["row_key"].str.len().eq(64).all()


def test_processed_has_indicator_columns(spark, raw_df):
    processed = compute_processed(clean_and_prepare(raw_df))
    for col in ("sma_20", "macd", "rsi", "obv", "symbol_date_key"):
        assert col in processed.columns


def test_incremental_replay_is_idempotent(spark, raw_df, tmp_path):
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    incremental_etl(spark, raw_df, state, out)
    first = spark.read.parquet(out)
    n1 = first.count()
    keys1 = first.select("symbol", "trading_date").distinct().count()
    assert n1 == keys1  # unique (symbol, date) after run 1

    # replay the SAME batch — watermark filters everything; dynamic
    # overwrite must not duplicate or lose rows
    incremental_etl(spark, raw_df, state, out)
    again = spark.read.parquet(out)
    assert again.count() == n1
    dup = again.groupBy("symbol", "trading_date").count().filter("count > 1").count()
    assert dup == 0


def test_incremental_keeps_bad_timestamp_rows(spark, tmp_path):
    """Regression: a row with an unparseable crawl `timestamp` (null
    event_time) must be ingested by an incremental run on a symbol that
    already has a watermark — first-run and incremental behavior agree."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    base = _make_raw_rows(symbols=("AAPL",), days=30)
    incremental_etl(spark, spark.createDataFrame(base, RAW_SCHEMA), state, out)
    assert read_watermarks(spark, state)

    bad_ts_row = {
        "ticker": "AAPL",
        "date": "2020-02-15",
        "open": 10.0, "high": 11.0, "low": 9.0, "close": 10.5,
        "volume": 1000,
        "timestamp": "not-a-timestamp",
        "consumed_at": dt.datetime(2024, 1, 1),
    }
    incremental_etl(
        spark, spark.createDataFrame(base + [bad_ts_row], RAW_SCHEMA), state, out
    )
    got = spark.read.parquet(out).filter("trading_date = DATE'2020-02-15'")
    assert got.count() == 1
    assert got.first()["close"] == 10.5


def test_incremental_matches_full_recompute(spark, tmp_path):
    """Split the feed in two; incremental result must equal one-shot
    recompute (the reference's truncated-window quirk must NOT appear)."""
    rows = _make_raw_rows(symbols=("AAPL",), days=120)
    cutoff = "2020-03-01T00:00:00"
    first = [r for r in rows if r["timestamp"] <= cutoff]
    rest = rows  # feed includes everything; watermark skips old rows

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    df_first = spark.createDataFrame(first, RAW_SCHEMA)
    df_all = spark.createDataFrame(rest, RAW_SCHEMA)

    incremental_etl(spark, df_first, state, out)
    assert read_watermarks(spark, state)  # marks advanced
    incremental_etl(spark, df_all, state, out)
    inc = spark.read.parquet(out)

    oneshot = compute_processed(clean_and_prepare(df_all))
    a = (
        inc.select("symbol", "trading_date", "sma_20", "sma_200", "obv", "rsi")
        .orderBy("symbol", "trading_date")
        .toPandas()
    )
    b = (
        oneshot.select("symbol", "trading_date", "sma_20", "sma_200", "obv", "rsi")
        .orderBy("symbol", "trading_date")
        .toPandas()
    )
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, atol=1e-9)


def test_incremental_with_history_beyond_lookback(spark, tmp_path):
    """History longer than LOOKBACK_ROWS: bounded windows must match a
    full recompute, OBV must carry its base across the boundary, and
    pre-lookback rows must keep their original values."""
    rows = _make_raw_rows(symbols=("AAPL",), days=300)
    cutoff = "2020-09-01T00:00:00"  # ~240 days first batch > LOOKBACK=200
    first = [r for r in rows if r["timestamp"] <= cutoff]

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    df_first = spark.createDataFrame(first, RAW_SCHEMA)
    df_all = spark.createDataFrame(rows, RAW_SCHEMA)

    incremental_etl(spark, df_first, state, out)
    incremental_etl(spark, df_all, state, out)
    inc = spark.read.parquet(out)

    oneshot = compute_processed(clean_and_prepare(df_all))
    cols = ["symbol", "trading_date", "sma_20", "sma_200", "obv", "rsi",
            "macd", "bb_upper", "month_change_pct"]
    a = inc.select(*cols).orderBy("symbol", "trading_date").toPandas()
    b = oneshot.select(*cols).orderBy("symbol", "trading_date").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, atol=1e-9)


def _assert_full_recompute(spark, out, raw_rows):
    """The stored table equals one clean + indicator pass over every raw
    row consumed, with unique (symbol, trading_date) keys."""
    import pandas as pd

    got = spark.read.parquet(out)
    expect = compute_processed(
        clean_and_prepare(spark.createDataFrame(raw_rows, RAW_SCHEMA))
    )
    cols = expect.columns
    a = got.select(*cols).orderBy("symbol", "trading_date").toPandas()
    b = expect.select(*cols).orderBy("symbol", "trading_date").toPandas()
    assert not a.duplicated(["symbol", "trading_date"]).any()
    pd.testing.assert_frame_equal(a, b, atol=1e-9)


def _revised(row, close, when):
    """A late correction of ``row``: new close, crawled at ``when``."""
    return dict(row, close=close, high=max(row["high"], close),
                low=min(row["low"], close), timestamp=when)


def _day_rows(rows, day):
    d = (dt.date(2020, 1, 2) + dt.timedelta(days=day)).isoformat()
    return [r for r in rows if d in r["date"]]


def _two_phase(spark, tmp_path, stored, batch):
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    incremental_etl(spark, spark.createDataFrame(stored, RAW_SCHEMA), state, out)
    incremental_etl(spark, spark.createDataFrame(batch, RAW_SCHEMA), state, out)
    return out


def test_cross_day_correction_inside_lookback(spark, tmp_path):
    """50 stored days, then a batch with day 50 and a revised close for
    day 45: the later rows' windows and OBV must see the revision.
    MSFT gets day 50 only, so one batch takes both the rewrite path
    (AAPL) and the append path (MSFT)."""
    rows = _make_raw_rows(symbols=("AAPL", "MSFT"), days=51, seed=11)
    stored = [r for r in rows if r["timestamp"] < "2020-02-21"]
    day50 = [r for r in rows if r not in stored]
    fix = _revised(
        [r for r in _day_rows(stored, 45) if r["ticker"].upper() == "AAPL"
         and r["close"] is not None][0],
        close=1.0, when="2020-02-21T18:00:00",
    )
    out = _two_phase(spark, tmp_path, stored, day50 + [fix])
    _assert_full_recompute(spark, out, rows + [fix])


def test_correction_of_newest_stored_day(spark, tmp_path):
    """A batch holding only a revised close for the newest stored day."""
    rows = _make_raw_rows(symbols=("AAPL",), days=50, seed=12)
    last = [r for r in _day_rows(rows, 49) if r["close"] is not None][-1]
    fix = _revised(last, close=last["close"] * 1.5, when="2020-02-21T09:00:00")
    out = _two_phase(spark, tmp_path, rows, [fix])
    _assert_full_recompute(spark, out, rows + [fix])


def test_resent_row_without_timestamp_loses_to_stored_row(spark, tmp_path):
    """A re-sent row with an unparseable timestamp always re-qualifies as
    new. Against a stored row for the same day it must lose, as it does
    in clean_and_prepare over the whole feed (latest event_time wins)."""
    rows = _make_raw_rows(symbols=("AAPL",), days=30, seed=14)
    old = [r for r in _day_rows(rows, 20) if r["close"] is not None][-1]
    resent = _revised(old, close=old["close"] * 2, when="not-a-timestamp")
    out = _two_phase(spark, tmp_path, rows, [resent])
    _assert_full_recompute(spark, out, rows + [resent])

def test_replay_after_crash_between_append_and_marks(spark, tmp_path, monkeypatch):
    """The tail is appended, then the mark write dies: re-running the
    same batch collides with the appended rows and takes the rewrite
    path, so keys stay unique, values equal a full recompute and the
    marks advance."""
    from finance_etl_system_spark.pipeline import etl

    rows = _make_raw_rows(symbols=("AAPL", "MSFT"), days=40, seed=13)
    stored = [r for r in rows if r["timestamp"] < "2020-02-05"]
    batch = spark.createDataFrame([r for r in rows if r not in stored], RAW_SCHEMA)
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    incremental_etl(spark, spark.createDataFrame(stored, RAW_SCHEMA), state, out)
    before = read_watermarks(spark, state)
    n_stored = spark.read.parquet(out).count()

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the mark write")

    with monkeypatch.context() as m:
        m.setattr(etl, "write_watermarks", crash)
        with pytest.raises(RuntimeError, match="crash before"):
            incremental_etl(spark, batch, state, out)
    assert read_watermarks(spark, state) == before
    assert spark.read.parquet(out).count() > n_stored  # the tail landed

    incremental_etl(spark, batch, state, out)
    _assert_full_recompute(spark, out, rows)
    after = read_watermarks(spark, state)
    assert all(after[s] > before[s] for s in before)


# Certification tier (verdict r11 #4; markers registered in
# tests/conftest.py): this module is excluded from the fast tier
# `pytest -m "not certify"` and runs in the full per-round gate.
# Assignment is duration-measured (tools/tier_report.py), not guessed.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.certify
