"""Tests of the seeded feed generator behind ``daily_refresh``.

Run: python3 -m pytest perfbench/test_feed.py -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_feed  # noqa: E402

KW = dict(n_symbols=7, history_days=60, new_days=3)


def _files(d: str) -> list[str]:
    return sorted(os.listdir(d))


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen_feed.write_feed(a, 11, **KW)
    gen_feed.write_feed(b, 11, **KW)
    assert _files(a) == _files(b) == ["day_0000.parquet", "day_0001.parquet",
                                      "day_0002.parquet", "history.parquet"]
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []


def test_different_seed_gives_different_files(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen_feed.write_feed(a, 11, **KW)
    gen_feed.write_feed(b, 12, **KW)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert match == [] and errors == []


def test_feed_carries_every_kind_of_dirty_row(tmp_path):
    import pyarrow.parquet as pq

    m = gen_feed.write_feed(str(tmp_path), 5, n_symbols=20, history_days=250, new_days=0)
    t = pq.read_table(m["history"]).to_pandas()
    assert len(t) > 20 * 250
    assert (t["timestamp"] == "not-a-timestamp").any()
    assert (t["date"].str.len() > 10).any()
    keyed = t.assign(day=t["date"].str.extract(r"(\d{4}-\d{2}-\d{2})")[0])
    per_key = keyed.groupby(["ticker", "day"])["close"].nunique()
    assert (per_key > 1).any(), "no late correction"
    assert keyed.duplicated().any(), "no duplicate re-send"


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = SparkSession.builder.master("local[2]").appName("perfbench-feed").getOrCreate()
    yield s
    s.stop()


def test_clean_keeps_one_row_per_symbol_and_day(spark, tmp_path):
    from finance_etl_system_spark.pipeline.etl import RAW_SCHEMA, clean_and_prepare

    m = gen_feed.write_feed(str(tmp_path), 3, **KW)
    paths = [m["history"], *m["daily"]]
    raw = spark.read.schema(RAW_SCHEMA).parquet(*paths)
    assert raw.count() > gen_feed.expected_clean_rows(7, 63)
    clean = clean_and_prepare(raw)
    assert clean.count() == gen_feed.expected_clean_rows(7, 63)
    assert clean.select("symbol", "trading_date").distinct().count() == 7 * 63
