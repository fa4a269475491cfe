"""Seeded raw OHLCV feed for the ``daily_refresh`` workload.

Writes ``history.parquet`` (``history_days`` trading days for every
symbol) and one ``day_NNNN.parquet`` per new trading day, all in
``pipeline.etl.RAW_SCHEMA`` column order and types. Prices are a
geometric random walk per symbol drawn from
``numpy.random.Generator(seed)``, so one seed gives byte-identical files.

Dirty rows come at fixed small rates, the kinds the clean step exists for:

- duplicate re-sends: an identical copy of a row;
- late corrections: a second row for the same symbol and day, two hours
  later in the same file, with a revised close (last write wins);
- messy ``date`` strings that still embed a ``yyyy-MM-dd`` date, which
  ``clean_and_prepare`` salvages;
- unparseable crawl ``timestamp``s, which become a NULL ``event_time``.

Every (symbol, day) pair keeps exactly one clean row, so the clean row
count of a file is ``symbols x days`` (``expected_clean_rows``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUPLICATE_RATE = 0.01
CORRECTION_RATE = 0.005
MESSY_DATE_RATE = 0.02
BAD_TIMESTAMP_RATE = 0.005
FIRST_DAY = "2022-01-03"

RAW_ARROW_SCHEMA = pa.schema(
    [
        ("ticker", pa.string()),
        ("date", pa.string()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.int64()),
        ("timestamp", pa.string()),
        ("consumed_at", pa.timestamp("us", tz="UTC")),
    ]
)


def trading_days(n: int) -> np.ndarray:
    """The first ``n`` weekdays from FIRST_DAY."""
    return np.busday_offset(FIRST_DAY, np.arange(n), roll="forward")


def symbols(n: int) -> list[str]:
    return [f"S{i:03d}" for i in range(n)]


def _rows(rng: np.random.Generator, tickers: list[str], days: np.ndarray,
          prev_close: np.ndarray) -> tuple[dict, np.ndarray]:
    """Clean rows for ``days`` x ``tickers`` (day-major), then dirt."""
    n_sym, n_day = len(tickers), len(days)
    ret = rng.normal(0.0002, 0.02, (n_day, n_sym))
    close = prev_close * np.exp(np.cumsum(ret, axis=0))
    opens = np.vstack([prev_close, close[:-1]]) * np.exp(rng.normal(0, 0.005, close.shape))
    high = np.maximum(opens, close) * (1 + np.abs(rng.normal(0, 0.01, close.shape)))
    low = np.minimum(opens, close) * (1 - np.abs(rng.normal(0, 0.01, close.shape)))
    volume = rng.lognormal(13.0, 0.5, close.shape).astype(np.int64)
    crawl = (days.astype("datetime64[s]") + np.timedelta64(21 * 3600, "s"))[:, None] + (
        rng.integers(0, 1800, close.shape).astype("timedelta64[s]")
    )
    cols = {
        "ticker": np.tile(np.array(tickers, dtype=object), n_day),
        "date": np.repeat(days.astype(str).astype(object), n_sym),
        "open": np.round(opens.ravel(), 4),
        "high": np.round(high.ravel(), 4),
        "low": np.round(low.ravel(), 4),
        "close": np.round(close.ravel(), 4),
        "volume": volume.ravel(),
        "crawl": crawl.ravel(),
    }
    return _add_dirt(rng, cols), close[-1]


def _add_dirt(rng: np.random.Generator, cols: dict) -> dict:
    n = len(cols["ticker"])
    dup = np.flatnonzero(rng.random(n) < DUPLICATE_RATE)
    fix = np.flatnonzero(rng.random(n) < CORRECTION_RATE)
    extra = {k: np.concatenate([v[dup], v[fix]]) for k, v in cols.items()}
    k = len(dup)
    extra["close"][k:] = np.round(extra["close"][k:] * (1 + rng.normal(0, 0.01, len(fix))), 4)
    extra["high"][k:] = np.maximum(extra["high"][k:], extra["close"][k:])
    extra["low"][k:] = np.minimum(extra["low"][k:], extra["close"][k:])
    extra["crawl"][k:] = extra["crawl"][k:] + np.timedelta64(2 * 3600, "s")
    out = {c: np.concatenate([cols[c], extra[c]]) for c in cols}

    m = len(out["ticker"])
    timestamp = np.datetime_as_string(out["crawl"], unit="s").astype(object)
    messy = rng.random(m) < MESSY_DATE_RATE
    out["date"][messy] = np.array([f"date: {d} (US/Eastern)" for d in out["date"][messy]],
                                  dtype=object)
    bad = rng.random(m) < BAD_TIMESTAMP_RATE
    timestamp[bad] = "not-a-timestamp"
    out["timestamp"] = timestamp
    out["consumed_at"] = (out.pop("crawl") + rng.integers(1, 6, m).astype("timedelta64[s]")
                          ).astype("datetime64[us]")
    return out


def _write(cols: dict, path: str) -> int:
    table = pa.table({f.name: pa.array(cols[f.name], f.type) for f in RAW_ARROW_SCHEMA},
                     schema=RAW_ARROW_SCHEMA)
    pq.write_table(table, path)
    return table.num_rows


def expected_clean_rows(n_symbols: int, n_days: int) -> int:
    return n_symbols * n_days


def write_feed(out_dir: str, seed: int, n_symbols: int, history_days: int,
               new_days: int) -> dict:
    """Write the history file and ``new_days`` daily files; returns a
    manifest with the paths and row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tickers = symbols(n_symbols)
    days = trading_days(history_days + new_days)
    start = rng.uniform(20.0, 400.0, n_symbols)
    cols, last = _rows(rng, tickers, days[:history_days], start)
    history = os.path.join(out_dir, "history.parquet")
    raw_rows = [_write(cols, history)]
    daily = []
    for i in range(new_days):
        cols, last = _rows(rng, tickers, days[history_days + i:history_days + i + 1], last)
        path = os.path.join(out_dir, f"day_{i:04d}.parquet")
        raw_rows.append(_write(cols, path))
        daily.append(path)
    return {
        "history": history,
        "daily": daily,
        "symbols": tickers,
        "days": [str(d) for d in days],
        "raw_rows": raw_rows,
    }
