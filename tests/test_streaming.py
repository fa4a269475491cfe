"""Structured Streaming ingest tests (SURVEY §3.2 path, §2.8 semantics).

Drives the real streaming engine with the file source standing in for
Kafka (same key/value wire shape), availableNow trigger.
"""

from __future__ import annotations

import json

import pytest

from tests.streamutil import finish
from finance_etl_system_spark.streaming.ingest import (
    parse_kafka_records,
    stream_ingest,
    windowed_stream_agg,
)


def _write_messages(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"batch_{len(list(path.glob('*.json')))}.json"
    with open(f, "w") as fh:
        for r in rows:
            value = {
                "ticker": r["ticker"],
                "date": r["date"],
                "open": r["open"],
                "high": r["open"] * 1.01,
                "low": r["open"] * 0.99,
                "close": r["close"],
                "volume": r["volume"],
                "timestamp": f"{r['date']}T16:00:00",
            }
            fh.write(json.dumps({"key": r["ticker"], "value": json.dumps(value)}) + "\n")


def _rows(ticker, dates, price=100.0):
    return [
        {
            "ticker": ticker,
            "date": d,
            "open": price,
            "close": price * 1.02,
            "volume": 1000,
        }
        for d in dates
    ]


@pytest.mark.timeout(600)
def test_stream_ingest_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src, _rows("AAPL", ["2024-01-02", "2024-01-03"]))
    _write_messages(src, _rows("MSFT", ["2024-01-02"]))

    q = stream_ingest(spark, str(src), out, ckpt)
    finish(q)

    got = spark.read.parquet(out)
    assert got.count() == 3
    assert set(r["symbol"] for r in got.select("symbol").collect()) == {"AAPL", "MSFT"}
    # consumed_at enrichment present (reference consumer.py:135)
    assert "consumed_at" in got.columns


@pytest.mark.timeout(600)
def test_stream_restart_does_not_duplicate(spark, tmp_path):
    """Checkpointed offsets: restarting over the same source must not
    re-ingest processed messages (the reference's manual-commit
    at-least-once, consumer.py:67,145, made effectively-once)."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src, _rows("AAPL", ["2024-01-02", "2024-01-03"]))

    q = stream_ingest(spark, str(src), out, ckpt)
    finish(q)
    n1 = spark.read.parquet(out).count()
    assert n1 == 2

    # restart with the SAME checkpoint: no new input → no new rows
    q2 = stream_ingest(spark, str(src), out, ckpt)
    finish(q2)
    assert spark.read.parquet(out).count() == n1

    # new messages arrive → only they are appended
    _write_messages(src, _rows("AAPL", ["2024-01-04"]))
    q3 = stream_ingest(spark, str(src), out, ckpt)
    finish(q3)
    got = spark.read.parquet(out)
    assert got.count() == n1 + 1
    dup = got.groupBy("symbol", "date").count().filter("count > 1").count()
    assert dup == 0


@pytest.mark.timeout(600)
def test_watermark_drops_late_rows(spark, tmp_path):
    """T4 live: a row arriving far behind the checkpointed watermark is
    dropped; its window (already emitted) does not change."""
    from finance_etl_system_spark.streaming.ingest import stream_windowed_counts

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def msg(ticker, iso_ts):
        return {
            "ticker": ticker,
            "date": iso_ts[:10],
            "open": 1.0,
            "close": 2.0,
            "volume": 1,
            "timestamp": iso_ts,
        }

    def write(rows):
        src.mkdir(parents=True, exist_ok=True)
        f = src / f"b{len(list(src.glob('*.json')))}.json"
        with open(f, "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps({"key": r["ticker"], "value": json.dumps(r)}) + "\n"
                )

    # batch 1: two rows in hour 10, advance max event time to 13:00
    write([
        msg("AAPL", "2024-01-02T10:05:00"),
        msg("AAPL", "2024-01-02T10:45:00"),
        msg("AAPL", "2024-01-02T13:00:00"),
    ])
    q = stream_windowed_counts(spark, str(src), out, ckpt)
    finish(q)
    first = {
        (str(r["window_start"]), r["symbol"]): r["n_rows"]
        for r in spark.read.parquet(out).collect()
    }
    # watermark passed 10:00-11:00 window end → it was emitted with n=2
    assert first[("2024-01-02 10:00:00", "AAPL")] == 2

    # batch 2: a LATE row for hour 10 (watermark ≈ 12:30) + a fresh row
    # far ahead so the 13:00 window also closes
    write([
        msg("AAPL", "2024-01-02T10:50:00"),  # late → dropped
        msg("AAPL", "2024-01-02T18:00:00"),
    ])
    q2 = stream_windowed_counts(spark, str(src), out, ckpt)
    finish(q2)
    final = {
        (str(r["window_start"]), r["symbol"]): r["n_rows"]
        for r in spark.read.parquet(out).collect()
    }
    # hour-10 window unchanged (late row dropped), no duplicate emission
    assert final[("2024-01-02 10:00:00", "AAPL")] == 2
    assert sum(1 for (w, s) in final if w == "2024-01-02 10:00:00") == 1
    # 13:00 window emitted by batch 2's watermark advance
    assert final[("2024-01-02 13:00:00", "AAPL")] == 1


def test_windowed_agg_batch_twin(spark):
    """The windowed agg runs identically on a batch frame (no
    watermark state needed) — sanity-check shape and values."""
    import pyspark.sql.functions as F

    rows = [
        ("AAPL", json.dumps({"ticker": "AAPL", "date": "2024-01-02", "open": 1.0,
                              "high": 1.0, "low": 1.0, "close": 10.0, "volume": 5,
                              "timestamp": "2024-01-02T10:00:00"})),
        ("AAPL", json.dumps({"ticker": "AAPL", "date": "2024-01-02", "open": 1.0,
                              "high": 1.0, "low": 1.0, "close": 20.0, "volume": 7,
                              "timestamp": "2024-01-02T11:00:00"})),
    ]
    df = spark.createDataFrame(rows, "key STRING, value STRING")
    parsed = parse_kafka_records(df)
    agg = windowed_stream_agg(parsed).collect()
    assert len(agg) == 1
    assert agg[0]["n_rows"] == 2
    assert agg[0]["avg_close"] == pytest.approx(15.0)
    assert agg[0]["total_volume"] == pytest.approx(12.0)


@pytest.mark.timeout(600)
def test_stream_stream_interval_join(spark, tmp_path):
    """Two live streams joined on symbol within a 30-minute horizon;
    result must equal the batch twin of the same interval join."""
    from finance_etl_system_spark.streaming.ingest import stream_stream_join

    def msg(ticker, ts, close):
        value = {"ticker": ticker, "date": ts[:10], "open": close, "high": close,
                 "low": close, "close": close, "volume": 1, "timestamp": ts}
        return json.dumps({"key": ticker, "value": json.dumps(value)}) + "\n"

    trades_dir, signals_dir = tmp_path / "trades", tmp_path / "signals"
    for d in (trades_dir, signals_dir):
        d.mkdir()
    (trades_dir / "b0.json").write_text(
        msg("AAPL", "2024-01-02T10:00:00", 100.0)
        + msg("AAPL", "2024-01-02T11:00:00", 101.0)
        + msg("MSFT", "2024-01-02T10:00:00", 200.0)
    )
    (signals_dir / "b0.json").write_text(
        msg("AAPL", "2024-01-02T10:10:00", 1.0)   # joins AAPL@10:00
        + msg("AAPL", "2024-01-02T10:45:00", 2.0)  # beyond 10:00+30m, before 11:00 → no match
        + msg("AAPL", "2024-01-02T11:05:00", 3.0)  # joins AAPL@11:00
        + msg("MSFT", "2024-01-02T10:20:00", 4.0)  # joins MSFT@10:00
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_stream_join(spark, str(trades_dir), str(signals_dir), out, ckpt)
    finish(q)

    got = {
        (r["symbol"], str(r["trade_time"]), str(r["signal_time"]))
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("AAPL", "2024-01-02 10:00:00", "2024-01-02 10:10:00"),
        ("AAPL", "2024-01-02 11:00:00", "2024-01-02 11:05:00"),
        ("MSFT", "2024-01-02 10:00:00", "2024-01-02 10:20:00"),
    }

    # batch twin: same join, plain DataFrames
    import pyspark.sql.functions as F

    t = parse_kafka_records(
        spark.read.schema("key STRING, value STRING").json(str(trades_dir))
    ).select(
        F.upper("ticker").alias("symbol"),
        F.col("event_time").alias("trade_time"),
    )
    s = parse_kafka_records(
        spark.read.schema("key STRING, value STRING").json(str(signals_dir))
    ).select(
        F.upper("ticker").alias("sig_symbol"),
        F.col("event_time").alias("signal_time"),
    )
    twin = t.join(
        s,
        (t.symbol == s.sig_symbol)
        & (s.signal_time >= t.trade_time)
        & (s.signal_time <= t.trade_time + F.expr("INTERVAL 30 MINUTES")),
    )
    assert {
        (r["symbol"], str(r["trade_time"]), str(r["signal_time"]))
        for r in twin.collect()
    } == got


@pytest.mark.timeout(600)
def test_stream_dedup_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must drop a re-delivered message
    in a LATER micro-batch (per-batch dedup cannot), state bounded by
    the watermark."""
    from finance_etl_system_spark.streaming.ingest import stream_dedup

    src = tmp_path / "src"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_messages(src, _rows("AAPL", ["2024-01-02", "2024-01-03"]))

    q = stream_dedup(spark, str(src), out, ckpt)
    finish(q)
    assert spark.read.parquet(out).count() == 2

    # batch 2 re-delivers 2024-01-03 (same symbol+date, within the
    # watermark window) plus one genuinely new row
    _write_messages(src, _rows("AAPL", ["2024-01-03", "2024-01-04"]))
    q2 = stream_dedup(spark, str(src), out, ckpt)
    finish(q2)
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert got.groupBy("symbol", "date").count().filter("count > 1").count() == 0


@pytest.mark.timeout(600)
def test_dual_sink_batch_writes_both(spark, tmp_path):
    """Reference two-sink write (etl_job.py:389-460): one batch feeds
    an append log AND a keyed-overwrite serving copy; replaying new
    data for a symbol converges the serving copy instead of
    duplicating it."""
    from finance_etl_system_spark.streaming.ingest import stream_ingest_dual_sink

    src = tmp_path / "src"
    app, ups, ckpt = (str(tmp_path / d) for d in ("append", "upsert", "ckpt"))
    _write_messages(src, _rows("AAPL", ["2024-01-02", "2024-01-03"]))

    q = stream_ingest_dual_sink(spark, str(src), app, ups, ckpt)
    finish(q)
    assert spark.read.parquet(app).count() == 2
    assert spark.read.parquet(ups).count() == 2

    # second batch: same symbol, new date — serving copy is REPLACED
    # for the AAPL partition (2nd batch only carries 01-04), append
    # log keeps the full history
    _write_messages(src, _rows("AAPL", ["2024-01-04"]))
    q2 = stream_ingest_dual_sink(spark, str(src), app, ups, ckpt)
    finish(q2)
    assert spark.read.parquet(app).count() == 3
    ups_rows = spark.read.parquet(ups)
    assert ups_rows.count() == 1
    assert ups_rows.select("date").first()[0] == "2024-01-04"


@pytest.mark.timeout(600)
def test_stream_static_broadcast_enrich(spark, tmp_path):
    """Each micro-batch left-joins the broadcast dim: covered symbols
    get metadata, uncovered ones survive with NULLs."""
    from finance_etl_system_spark.streaming.ingest import stream_static_enrich

    def msg(ticker, ts, close):
        value = {"ticker": ticker, "date": ts[:10], "open": close, "high": close,
                 "low": close, "close": close, "volume": 7, "timestamp": ts}
        return json.dumps({"key": ticker, "value": json.dumps(value)}) + "\n"

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        msg("AAPL", "2024-01-02T10:00:00", 100.0)
        + msg("MSFT", "2024-01-02T10:05:00", 200.0)
        + msg("ZZZZ", "2024-01-02T10:10:00", 1.0)  # not in dim
    )
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [("AAPL", "tech", "US"), ("MSFT", "tech", "US"), ("XOM", "energy", "US")],
        "symbol STRING, sector STRING, region STRING",
    ).write.parquet(dim_path)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_static_enrich(spark, str(src), dim_path, out, ckpt)
    finish(q)

    got = {r["symbol"]: (r["sector"], r["region"], r["close"])
           for r in spark.read.parquet(out).collect()}
    assert got == {
        "AAPL": ("tech", "US", 100.0),
        "MSFT": ("tech", "US", 200.0),
        "ZZZZ": (None, None, 1.0),
    }


@pytest.mark.timeout(600)
def test_stream_scoring_matches_batch_score(spark, tmp_path):
    """The streaming scorer must produce exactly batch score_ols
    predictions for covered symbols and NULL for uncovered ones."""
    from finance_etl_system_spark.streaming.scoring import stream_score

    def msg(ticker, ts, close, volume):
        value = {"ticker": ticker, "date": ts[:10], "open": close, "high": close,
                 "low": close, "close": close, "volume": volume, "timestamp": ts}
        return json.dumps({"key": ticker, "value": json.dumps(value)}) + "\n"

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        msg("AAPL", "2024-01-02T10:00:00", 100.0, 5)
        + msg("AAPL", "2024-01-02T11:00:00", 102.0, 7)
        + msg("ZZZZ", "2024-01-02T10:30:00", 1.0, 1)
    )
    registry = str(tmp_path / "registry")
    spark.createDataFrame(
        [("AAPL", [2.0, 0.5], 10.0, "ols", 0.9)],
        "group_key STRING, coefficients ARRAY<DOUBLE>, intercept DOUBLE,"
        " model_name STRING, r2 DOUBLE",
    ).write.parquet(registry)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_score(spark, str(src), registry, out, ckpt)
    finish(q)

    got = {(r.symbol, r.close): r.prediction for r in spark.read.parquet(out).collect()}
    # prediction = intercept + 2*close + 0.5*volume
    assert got == {
        ("AAPL", 100.0): round(10.0 + 2.0 * 100.0 + 0.5 * 5, 6),
        ("AAPL", 102.0): round(10.0 + 2.0 * 102.0 + 0.5 * 7, 6),
        ("ZZZZ", 1.0): None,
    }


@pytest.mark.timeout(600)
def test_stream_session_windows_merge_and_close(spark, tmp_path):
    """Events within the gap merge into one session; a quiet period
    starts a new one; only watermark-closed sessions are emitted."""
    from finance_etl_system_spark.streaming.ingest import stream_session_agg

    def msg(ticker, ts, close):
        value = {"ticker": ticker, "date": ts[:10], "open": close, "high": close,
                 "low": close, "close": close, "volume": 1, "timestamp": ts}
        return json.dumps({"key": ticker, "value": json.dumps(value)}) + "\n"

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        # session 1: 10:00, 10:10 (within 30m gap)
        msg("AAPL", "2024-01-02T10:00:00", 100.0)
        + msg("AAPL", "2024-01-02T10:10:00", 102.0)
        # session 2: 12:00 (gap > 30m)
        + msg("AAPL", "2024-01-02T12:00:00", 104.0)
        # advance the watermark far past both sessions
        + msg("AAPL", "2024-01-03T09:00:00", 110.0)
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_session_agg(spark, str(src), out, ckpt)
    finish(q)

    rows = {
        (str(r.session_start), r.n_rows, r.avg_close)
        for r in spark.read.parquet(out).collect()
    }
    assert ("2024-01-02 10:00:00", 2, 101.0) in rows
    assert ("2024-01-02 12:00:00", 1, 104.0) in rows
    # the 01-03 event's session is still open (watermark at max-1h) →
    # not emitted in append mode
    assert not any(s.startswith("2024-01-03") for s, _, _ in rows)


@pytest.mark.timeout(600)
def test_stream_ingest_full_replay_converges(spark, tmp_path):
    """Effectively-once as the DEFAULT sink contract: a full replay
    (fresh checkpoint over the same source) rewrites the same
    (symbol, date) partitions instead of appending — row count and
    content converge. An append sink would double the rows here."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    _write_messages(src, _rows("AAPL", ["2024-01-02", "2024-01-03"]))
    _write_messages(src, _rows("MSFT", ["2024-01-02"]))

    q = stream_ingest(spark, str(src), out, str(tmp_path / "ckpt1"))
    finish(q)
    first = sorted(
        (r["symbol"], str(r["date"]), r["close"])
        for r in spark.read.parquet(out).collect()
    )
    assert len(first) == 3

    # fresh checkpoint = the whole source replays from offset zero
    q2 = stream_ingest(spark, str(src), out, str(tmp_path / "ckpt2"))
    finish(q2)
    second = sorted(
        (r["symbol"], str(r["date"]), r["close"])
        for r in spark.read.parquet(out).collect()
    )
    assert second == first  # converged, not duplicated


@pytest.mark.timeout(600)
def test_stream_ingest_upserts_rewritten_key(spark, tmp_path):
    """A later message for an existing (symbol, date) key REPLACES the
    stored row (the reference's ES doc-id upsert, etl_job.py:457)."""
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src, _rows("AAPL", ["2024-01-02"], price=100.0))
    q = stream_ingest(spark, str(src), out, ckpt)
    finish(q)

    _write_messages(src, _rows("AAPL", ["2024-01-02"], price=200.0))
    q2 = stream_ingest(spark, str(src), out, ckpt)
    finish(q2)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0]["close"] == 200.0 * 1.02


@pytest.mark.timeout(600)
def test_kafka_ingest_against_real_broker(spark, tmp_path):
    """Broker-gated integration for the real Kafka source/sink pair
    (stream_ingest_kafka / stream_to_kafka). The wire format and the
    sink logic are fully covered by the file-source twins above; this
    exercises only the broker hop, so it skips cleanly unless
    $SPARK_GRAFT_KAFKA_BOOTSTRAP points at a reachable broker AND the
    spark-sql-kafka package is on the classpath."""
    import os

    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("no Kafka broker configured (SPARK_GRAFT_KAFKA_BOOTSTRAP unset)")
    from finance_etl_system_spark.streaming.ingest import (
        stream_ingest_kafka,
        stream_to_kafka,
    )

    topic = "spark_graft_it"
    src_df = spark.createDataFrame(
        [("AAPL", "2024-01-02", 100.0, 101.0, 99.0, 102.0, 1000, "2024-01-02T16:00:00")],
        "ticker STRING, date STRING, open DOUBLE, high DOUBLE, low DOUBLE, "
        "close DOUBLE, volume LONG, timestamp STRING",
    )
    from finance_etl_system_spark.sources.readers import to_kafka_frame

    (
        to_kafka_frame(src_df)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )
    out = str(tmp_path / "out")
    q = stream_ingest_kafka(spark, bootstrap, topic, out, str(tmp_path / "ckpt"))
    finish(q)
    got = spark.read.parquet(out).collect()
    assert any(r["symbol"] == "AAPL" for r in got)


@pytest.mark.timeout(600)
def test_stream_quality_gate_publishes_and_quarantines(spark, tmp_path):
    """Per-batch expectation gate: a clean batch publishes to the
    clean sink; a batch with a non-positive close is diverted to
    quarantine; every batch leaves a per-check verdict row."""
    from finance_etl_system_spark.streaming.quality import stream_quality_gate

    src = tmp_path / "src"
    clean, quar, verd, ckpt = (
        str(tmp_path / d) for d in ("clean", "quarantine", "verdicts", "ckpt")
    )

    # batch 1: clean rows
    _write_messages(src, _rows("AAPL", ["2024-01-02", "2024-01-03"]))
    q = stream_quality_gate(spark, str(src), clean, quar, verd, ckpt)
    finish(q)
    assert spark.read.parquet(clean).count() == 2
    v1 = spark.read.parquet(verd)
    assert v1.filter("NOT passed").count() == 0
    assert v1.select("check_name").distinct().count() == 4

    # batch 2: one poisoned row (close <= 0) -> whole batch quarantined
    bad = _rows("MSFT", ["2024-01-02"], price=-50.0)
    _write_messages(src, bad)
    q2 = stream_quality_gate(spark, str(src), clean, quar, verd, ckpt)
    finish(q2)
    assert spark.read.parquet(clean).count() == 2  # unchanged
    assert spark.read.parquet(quar).count() == 1
    v2 = spark.read.parquet(verd)
    failed = {r.check_name for r in v2.filter("NOT passed").collect()}
    assert "positive_close" in failed


@pytest.mark.timeout(600)
def test_keyed_sink_deterministic_under_conflicting_duplicates(spark, tmp_path):
    """Two messages for the same (symbol, date) in one batch: the
    survivor must be a deterministic function of content (max struct),
    not dropDuplicates' arbitrary pick — two independent runs over the
    same source must write identical content."""
    from finance_etl_system_spark.streaming.ingest import stream_ingest

    src = tmp_path / "src"
    rows = _rows("AAPL", ["2024-01-02"], price=100.0) + _rows(
        "AAPL", ["2024-01-02"], price=300.0
    )
    _write_messages(src, rows)

    outs = []
    for run in ("a", "b"):
        out, ckpt = str(tmp_path / f"out_{run}"), str(tmp_path / f"ckpt_{run}")
        q = stream_ingest(spark, str(src), out, ckpt)
        finish(q)
        got = spark.read.parquet(out).collect()
        assert len(got) == 1
        outs.append((got[0].open, got[0].close))
    assert outs[0] == outs[1]
    # max(struct(content)) with equal leading fields -> larger open wins
    assert outs[0][0] == 300.0


@pytest.mark.timeout(600)
def test_quality_gate_batch_retry_is_idempotent(spark, tmp_path):
    """A micro-batch retried after a mid-batch crash re-runs with the
    SAME batch_id; the quarantine and verdict sinks are partitioned by
    batch_id with dynamic overwrite, so the retry rewrites its own
    partition instead of duplicating rows."""
    from finance_etl_system_spark.streaming.quality import gate_batch

    bad = spark.createDataFrame(
        [("msft", "2024-01-02", -5.0), ("msft", "2024-01-03", 10.0)],
        "ticker string, date string, close double",
    )
    clean, quar, verd = (
        str(tmp_path / d) for d in ("clean", "quarantine", "verdicts")
    )
    for _ in range(2):  # second call = the retry
        gate_batch(bad, 7, clean, quar, verd)
    assert spark.read.parquet(quar).count() == 2          # not 4
    v = spark.read.parquet(verd)
    assert v.count() == 4                                  # one per check
    assert v.select("batch_id").distinct().collect()[0][0] == 7


@pytest.mark.timeout(600)
def test_stream_dedup_incremental_replay_converges(spark, tmp_path):
    """X1 × T2/T3: the incremental MinHash dedup as a checkpointed
    foreachBatch stream. Two independent runs over the same source
    converge to identical verdict + state tables, and a same-batch_id
    retry is idempotent."""
    import json as _json
    import os

    from finance_etl_system_spark.streaming.dedup import (
        dedup_increment_batch,
        stream_dedup_incremental,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep green forest tonight"
    )
    fresh = (
        "completely unrelated text about spark shuffle partitions "
        "and adaptive query execution planning at massive scale"
    )
    novel = (
        "novel document on watermarking late event streams "
        "with bounded state and exactly once sinks"
    )
    src = tmp_path / "src"
    src.mkdir()
    b1 = [(1, base), (2, fresh)]
    b2 = [(10, base + " extra"), (11, novel), (12, novel + " padded")]
    for i, rows in enumerate((b1, b2)):
        p = src / f"batch{i}.json"
        p.write_text(
            "\n".join(
                _json.dumps({"doc_id": d, "text": t}) for d, t in rows
            )
        )
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def run(tag):
        verd, state, ckpt = (
            str(tmp_path / f"{d}_{tag}") for d in ("verd", "state", "ckpt")
        )
        q = stream_dedup_incremental(spark, str(src), verd, state, ckpt)
        finish(q)
        verdicts = {
            (r.id, r.dup_of, r.matched, r.est_jaccard)
            for r in spark.read.parquet(verd).collect()
        }
        sigs = {
            (r.id, tuple(r.sig)) for r in spark.read.parquet(state).collect()
        }
        return verd, state, verdicts, sigs

    verd_a, state_a, verdicts_a, sigs_a = run("a")
    _, _, verdicts_b, sigs_b = run("b")
    assert verdicts_a == verdicts_b
    assert sigs_a == sigs_b
    assert {v[0]: v[1] for v in verdicts_a} == {10: 1, 12: 11}
    assert {s[0] for s in sigs_a} == {1, 2, 11}

    # retry of the last batch (same batch_id, state already contains
    # its survivors) must change nothing
    batch2 = spark.createDataFrame(b2, "doc_id LONG, text STRING")
    last_bid = max(
        r.batch_id for r in spark.read.parquet(verd_a).select("batch_id").collect()
    )
    dedup_increment_batch(batch2, last_bid, verd_a, state_a)
    assert {
        (r.id, r.dup_of, r.matched, r.est_jaccard)
        for r in spark.read.parquet(verd_a).collect()
    } == verdicts_a
    assert {
        (r.id, tuple(r.sig)) for r in spark.read.parquet(state_a).collect()
    } == sigs_a


def test_stream_dedup_all_duplicate_batch_keeps_state_readable(
    spark, tmp_path
):
    """A batch whose docs ALL duplicate history writes no survivors —
    and the next batch must still read the state and dedupe against
    it."""
    from finance_etl_system_spark.streaming.dedup import (
        dedup_increment_batch,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep green forest tonight"
    )
    novel = (
        "novel document on watermarking late event streams "
        "with bounded state and exactly once sinks"
    )
    verd, state = str(tmp_path / "verd"), str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id LONG, text STRING"
    )
    dedup_increment_batch(mk([(1, base)]), 0, verd, state)
    # batch 1: pure duplicate -> zero survivors
    dedup_increment_batch(mk([(2, base + " extra")]), 1, verd, state)
    # batch 2 must still read state and dedupe against doc 1
    dedup_increment_batch(mk([(3, base + " more"), (4, novel)]), 2, verd, state)
    verdicts = {
        r.id: r.dup_of for r in spark.read.parquet(verd).collect()
    }
    assert verdicts[2] == 1 and verdicts[3] == 1
    assert {r.id for r in spark.read.parquet(state).collect()} == {1, 4}


@pytest.mark.timeout(600)
def test_kafka_connector_absent_and_wire_fixture_roundtrip(spark, tmp_path):
    """Adjudication of the embedded-broker-stub question (round-3
    advice): this sandbox's pyspark ships NO spark-sql-kafka jars, so
    ``format("kafka")`` fails at DataSource RESOLUTION — before any
    socket is opened — and a wire-protocol stub broker could never
    make the integration test pass here. Bundling the connector jars
    plus a protocol stub is deploy infrastructure, not engine code.

    What CAN be pinned without a broker is everything but the network
    hop: a RECORDED connector-shaped micro-batch (binary key/value +
    topic/partition/offset/timestamp metadata — the exact schema
    ``readStream.format("kafka")`` yields) replayed through the same
    parse + keyed-overwrite sink that stream_ingest_kafka's
    foreachBatch runs, byte-equal with the file-twin path."""
    from pyspark.sql import functions as SF

    from finance_etl_system_spark.sources.readers import to_kafka_frame
    from finance_etl_system_spark.streaming.ingest import (
        parse_kafka_records,
        write_keyed_overwrite,
    )

    # 1. the adjudication claim itself: provider resolution fails
    with pytest.raises(Exception, match="(?i)kafka"):
        (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "localhost:9092")
            .option("subscribe", "t")
            .load()
        )

    # 2. recorded-fixture harness: producer wire bytes → connector
    #    read schema → parse → sink, vs the file twin on the same rows
    src = spark.createDataFrame(
        [
            ("AAPL", "2024-01-02", 101.0, 103.0, 100.0, 102.5, 1000,
             "2024-01-02T21:00:00"),
            ("msft", "2024-01-02", 390.0, 395.0, 388.0, 391.25, 2000,
             "2024-01-02T21:00:00"),
        ],
        "ticker string, date string, open double, high double, low double,"
        " close double, volume long, timestamp string",
    )
    wire = to_kafka_frame(src)  # exactly what .write.format("kafka") sends
    recorded = wire.select(
        SF.col("key").cast("binary").alias("key"),
        SF.col("value").cast("binary").alias("value"),
        SF.lit("prices").alias("topic"),
        SF.lit(0).alias("partition"),
        SF.monotonically_increasing_id().alias("offset"),
        SF.lit("2024-01-02 21:00:01").cast("timestamp").alias("timestamp"),
        SF.lit(0).alias("timestampType"),
    )
    assert [f.dataType.simpleString() for f in recorded.schema.fields[:2]] == [
        "binary",
        "binary",
    ]
    parsed = parse_kafka_records(recorded)
    out_kafka = str(tmp_path / "out_kafka")
    write_keyed_overwrite(parsed, out_kafka)

    out_file = str(tmp_path / "out_file")
    write_keyed_overwrite(parse_kafka_records(wire), out_file)

    cols = ["symbol", "date", "open", "high", "low", "close", "volume"]
    a = sorted(tuple(r) for r in spark.read.parquet(out_kafka).select(cols).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(out_file).select(cols).collect())
    assert a == b
    assert {r[0] for r in a} == {"AAPL", "MSFT"}  # upper-cased keys


@pytest.mark.timeout(600)
def test_stream_score_best_model_crosses_families(spark, tmp_path):
    """Streaming serving from the unified registry: a linear winner
    serves column arithmetic, a tree winner serves its blob — one
    stream, per-key family routing, retry-idempotent sink."""
    import numpy as np

    from finance_etl_system_spark.pipeline.ml import unify_registries
    from finance_etl_system_spark.pipeline.trees import blob_dumps, gbt_fit, gbt_predict
    from finance_etl_system_spark.streaming.scoring import stream_score_best_model

    def msg(ticker, ts, close, volume):
        value = {"ticker": ticker, "date": ts[:10], "open": close, "high": close,
                 "low": close, "close": close, "volume": volume, "timestamp": ts}
        return json.dumps({"key": ticker, "value": json.dumps(value)}) + "\n"

    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        msg("AAPL", "2024-01-02T10:00:00", 100.0, 5)
        + msg("MSFT", "2024-01-02T10:00:00", 3.0, 2)
        + msg("ZZZZ", "2024-01-02T10:30:00", 1.0, 1)
    )
    # linear family wins AAPL (r2 0.9 vs absent), gbt wins MSFT
    lin = spark.createDataFrame(
        [("AAPL", "linear_regression", 10, 0.9, 0.1, [2.0, 0.5], 10.0)],
        "group_key STRING, model_name STRING, n_rows LONG, r2 DOUBLE,"
        " mse DOUBLE, coefficients ARRAY<DOUBLE>, intercept DOUBLE",
    )
    X = np.array([[1.0, 1.0], [2.0, 1.0], [3.0, 2.0], [4.0, 2.0]] * 5)
    y = (X[:, 0] ** 2 + X[:, 1]).astype(float)
    model = gbt_fit(X, y, n_trees=5, max_depth=2, min_leaf=1)
    expect_msft = float(gbt_predict(model, np.array([[3.0, 2.0]]))[0])
    gbt = spark.createDataFrame(
        [("MSFT", "gbt_histogram", 20, 0.95, 0.01,
          bytearray(blob_dumps(model, ["close", "volume"])))],
        "group_key STRING, model_name STRING, n_rows LONG, r2 DOUBLE,"
        " mse DOUBLE, model_blob BINARY",
    )
    registry = str(tmp_path / "registry")
    unify_registries(lin, gbt).write.parquet(registry)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_score_best_model(spark, str(src), registry, out, ckpt)
    finish(q)

    rows = {r.symbol: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"AAPL", "MSFT"}  # no model -> dropped
    assert rows["AAPL"].model_name == "linear_regression"
    assert rows["AAPL"].prediction == 10.0 + 2.0 * 100.0 + 0.5 * 5
    assert rows["MSFT"].model_name == "gbt_histogram"
    assert rows["MSFT"].prediction == expect_msft
    assert rows["AAPL"].batch_id == 0


@pytest.mark.timeout(600)
def test_stream_index_documents_equals_batch_build(spark, tmp_path):
    """Streaming index maintenance (the continuous ES-indexer twin):
    a streamed-in index answers BM25 queries identically to a batch
    build over the same corpus, a retry of the last batch changes
    nothing, and two runs over the same source converge."""
    import json as _json
    import os

    from finance_etl_system_spark.operators.textindex import (
        bm25_search_index,
        build_text_index,
    )
    from finance_etl_system_spark.streaming.indexing import (
        index_batch,
        stream_index_documents,
    )

    docs = [
        (1, "spark streams merge data quickly across partitions"),
        (2, "the stream merges and shuffles rows by key"),
        (3, "unrelated prose about cooking pasta tonight"),
        (4, "another stream document about merge strategies"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate((docs[:2], docs[2:])):
        p = src / f"b{i}.json"
        p.write_text(
            "\n".join(_json.dumps({"doc_id": d, "text": t}) for d, t in chunk)
        )
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    idx = str(tmp_path / "stream_idx")
    q = stream_index_documents(spark, str(src), idx, str(tmp_path / "ckpt"))
    finish(q)
    terms = ["stream", "merge"]
    got = [
        (r.rnk, r.doc_id, r.bm25, r.n_terms_hit)
        for r in bm25_search_index(spark, idx, terms).collect()
    ]

    batch_idx = str(tmp_path / "batch_idx")
    build_text_index(
        spark.createDataFrame(docs, "doc_id LONG, text STRING"), batch_idx
    )
    want = [
        (r.rnk, r.doc_id, r.bm25, r.n_terms_hit)
        for r in bm25_search_index(spark, batch_idx, terms).collect()
    ]
    assert got == want and got

    # retry of the last batch: same batch_id -> index unchanged
    last = spark.createDataFrame(docs[2:], "doc_id LONG, text STRING")
    index_batch(last, 1, idx)
    again = [
        (r.rnk, r.doc_id, r.bm25, r.n_terms_hit)
        for r in bm25_search_index(spark, idx, terms).collect()
    ]
    assert again == want


def test_stream_drift_monitor_psi_alarm_and_idempotency(spark, tmp_path):
    """Streaming PSI monitor (streaming/drift.py): an in-distribution
    batch stays quiet, a shifted batch alarms, the cumulative PSI
    equals the PSI of the concatenated stream (counts merge by
    addition), and a same-batch_id retry rewrites its own partition
    instead of duplicating."""
    import json

    from pyspark.sql import functions as F

    from finance_etl_system_spark.streaming.drift import (
        PSI_ALARM,
        bucketize_counts,
        drift_monitor_batch,
        psi_from_counts,
        reference_grid,
        stream_drift_monitor,
    )

    ref = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v")
    )
    edges, fracs = reference_grid(ref, "v")
    assert len(edges) == 9 and abs(sum(fracs.values()) - 1.0) < 1e-9

    src = tmp_path / "src"
    src.mkdir()
    counts_dir = str(tmp_path / "counts")
    verdict_dir = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_drift_monitor(
            spark, str(src), "v double",
            value_col="v", edges=edges, ref_fracs=fracs,
            counts_dir=counts_dir, verdict_dir=verdict_dir,
            checkpoint_dir=ckpt,
        )
        finish(q)

    # batch 0: same distribution -> quiet
    (src / "b0.json").write_text(
        "\n".join(json.dumps({"v": float(i % 100)}) for i in range(500))
    )
    run()
    v0 = spark.read.parquet(verdict_dir).collect()
    assert len(v0) == 1 and not v0[0].alarm and v0[0].psi_batch < 0.05

    # batch 1: shifted upward -> alarm
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"v": float(60 + i % 40)}) for i in range(500))
    )
    run()
    v = {r.batch_id: r for r in spark.read.parquet(verdict_dir).collect()}
    assert len(v) == 2
    assert v[1].alarm and v[1].psi_batch > PSI_ALARM

    # cumulative PSI == PSI of the concatenated stream
    both = spark.createDataFrame(
        [(float(i % 100),) for i in range(500)]
        + [(float(60 + i % 40),) for i in range(500)],
        "v double",
    )
    want = psi_from_counts(
        {r["bucket"]: r["n"] for r in bucketize_counts(both, "v", edges).collect()},
        fracs,
    )
    assert abs(v[1].psi_cum - round(want, 6)) < 1e-9

    # same-batch_id retry: rewrites its partition, verdicts unchanged
    replay = spark.createDataFrame(
        [(float(60 + i % 40),) for i in range(500)], "v double"
    )
    drift_monitor_batch(
        replay, 1, value_col="v", edges=edges, ref_fracs=fracs,
        counts_dir=counts_dir, verdict_dir=verdict_dir,
    )
    again = {r.batch_id: r for r in spark.read.parquet(verdict_dir).collect()}
    assert len(again) == 2 and again[1] == v[1]


def test_stream_drift_monitor_all_null_batch_writes_verdict(spark, tmp_path):
    """An all-NULL batch must still land a verdict row (n_batch=0,
    alarm=false) so the verdict log never gaps — including as the
    FIRST batch, when no counts log exists yet."""
    from pyspark.sql import functions as F

    from finance_etl_system_spark.streaming.drift import (
        drift_monitor_batch,
        reference_grid,
    )

    ref = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v")
    )
    edges, fracs = reference_grid(ref, "v")
    counts_dir = str(tmp_path / "counts")
    verdict_dir = str(tmp_path / "verdicts")

    # batch 0 is all-NULL and FIRST: no counts dir exists yet
    nulls = spark.createDataFrame([(None,)] * 5, "v double")
    drift_monitor_batch(
        nulls, 0, value_col="v", edges=edges, ref_fracs=fracs,
        counts_dir=counts_dir, verdict_dir=verdict_dir,
    )
    v0 = spark.read.parquet(verdict_dir).collect()
    assert len(v0) == 1
    assert v0[0].n_batch == 0 and v0[0].n_total == 0 and not v0[0].alarm
    assert v0[0].psi_batch == 0.0 and v0[0].psi_cum == 0.0
    import os

    assert not os.path.exists(counts_dir)  # no schema-less counts dir

    # batch 1 has data; batch 2 all-NULL again — verdict continues,
    # psi_cum reflects only counted batches
    data = spark.createDataFrame(
        [(float(i % 100),) for i in range(500)], "v double"
    )
    drift_monitor_batch(
        data, 1, value_col="v", edges=edges, ref_fracs=fracs,
        counts_dir=counts_dir, verdict_dir=verdict_dir,
    )
    drift_monitor_batch(
        nulls, 2, value_col="v", edges=edges, ref_fracs=fracs,
        counts_dir=counts_dir, verdict_dir=verdict_dir,
    )
    v = {r.batch_id: r for r in spark.read.parquet(verdict_dir).collect()}
    assert set(v) == {0, 1, 2}
    assert v[2].n_batch == 0 and v[2].n_total == 500
    assert v[2].psi_cum == v[1].psi_cum  # nulls add nothing


def test_stream_enrich_temporal_scd2_versions(spark, tmp_path):
    """Temporal enrichment: each event gets the dim VERSION valid at
    its event time (not the current one), pre-history events pass
    through with NULL attributes under how=left, a same-batch_id
    retry rewrites its own partition, and the batch kernel matches a
    python brute-force over the intervals."""
    import json

    from pyspark.sql import functions as F

    from finance_etl_system_spark.streaming.enrich import (
        stream_enrich_batch,
        stream_enrich_temporal,
        temporal_enrich,
    )

    dim = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "2024-01-10 00:00:00", "bronze"),
            ("u1", "2024-01-10 00:00:00", None, "gold"),
            ("u2", "2024-01-05 00:00:00", None, "silver"),
        ],
        "user_id string, valid_from string, valid_to string, tier string",
    ).select(
        "user_id",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "tier",
    )

    events = [
        ("u1", "2024-01-02 12:00:00", 1),   # bronze era
        ("u1", "2024-01-10 00:00:00", 2),   # boundary: gold starts
        ("u1", "2024-01-20 12:00:00", 3),   # gold era
        ("u2", "2024-01-01 12:00:00", 4),   # before u2's first version
        ("u2", "2024-01-06 12:00:00", 5),   # silver era
    ]
    want = {1: "bronze", 2: "gold", 3: "gold", 4: None, 5: "silver"}

    # batch kernel parity
    ev = spark.createDataFrame(
        events, "user_id string, ts string, eid int"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "eid")
    got = {
        r.eid: r.tier
        for r in temporal_enrich(ev, dim, key="user_id").collect()
    }
    assert got == want
    # inner mode drops the unmatched event
    inner = temporal_enrich(ev, dim, key="user_id", how="inner")
    assert {r.eid for r in inner.collect()} == {1, 2, 3, 5}

    # streamed in two batches through the same checkpoint
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        q = stream_enrich_temporal(
            spark, str(src), "user_id string, ts timestamp, eid int",
            dim, out, ckpt, key="user_id",
        )
        finish(q)

    (src / "b0.json").write_text(
        "\n".join(
            json.dumps({"user_id": u, "ts": t, "eid": e})
            for u, t, e in events[:3]
        )
    )
    run()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"user_id": u, "ts": t, "eid": e})
            for u, t, e in events[3:]
        )
    )
    run()
    rows = spark.read.parquet(out).collect()
    assert {r.eid: r.tier for r in rows} == want
    assert len(rows) == len(events)

    # retry idempotency: re-running batch 1 rewrites its partition
    replay = spark.createDataFrame(
        events[3:], "user_id string, ts string, eid int"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "eid")
    stream_enrich_batch(replay, 1, dim=dim, out_dir=out, key="user_id")
    again = spark.read.parquet(out).collect()
    assert {r.eid: r.tier for r in again} == want and len(again) == len(events)


# Certification tier (verdict r11 #4; markers registered in
# tests/conftest.py): this module is excluded from the fast tier
# `pytest -m "not certify"` and runs in the full per-round gate.
# Assignment is duration-measured (tools/tier_report.py), not guessed.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.certify


def _enrich_without_match(spark, root):
    """An inner temporal enrichment whose only event precedes every
    dim version: the batch keeps no row."""
    from pyspark.sql import functions as F

    from finance_etl_system_spark.functions.generations import read_state
    from finance_etl_system_spark.streaming.enrich import stream_enrich_batch

    dim = spark.createDataFrame(
        [("u1", "2024-01-10 00:00:00", None, "gold")],
        "user_id string, valid_from string, valid_to string, tier string",
    ).select(
        "user_id",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "tier",
    )
    events = spark.createDataFrame(
        [("u1", "2024-01-02 12:00:00", 1)], "user_id string, ts string, eid int"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "eid")
    out = f"{root}/enr"
    stream_enrich_batch(
        events, 0, dim=dim, out_dir=out, key="user_id", how="inner"
    )
    return read_state(spark, out, "user_id string, eid int, batch_id int")


def _index_without_tokens(spark, root):
    """A first index batch whose documents hold no token."""
    from finance_etl_system_spark.operators.textindex import bm25_search_index
    from finance_etl_system_spark.streaming.indexing import index_batch

    docs = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    index_batch(docs, 0, f"{root}/idx")
    return bm25_search_index(spark, f"{root}/idx", ["stream"])


def _score_without_model(spark, root):
    """A scoring stream whose only symbol has no model in the registry."""
    from finance_etl_system_spark.functions.generations import read_state
    from finance_etl_system_spark.pipeline.ml import unify_registries
    from finance_etl_system_spark.streaming.scoring import stream_score_best_model

    lin = spark.createDataFrame(
        [("AAPL", "linear_regression", 10, 0.9, 0.1, [2.0, 0.5], 10.0)],
        "group_key STRING, model_name STRING, n_rows LONG, r2 DOUBLE,"
        " mse DOUBLE, coefficients ARRAY<DOUBLE>, intercept DOUBLE",
    )
    trees = spark.createDataFrame(
        [],
        "group_key STRING, model_name STRING, n_rows LONG, r2 DOUBLE,"
        " mse DOUBLE, model_blob BINARY",
    )
    registry = f"{root}/registry"
    unify_registries(lin, trees).write.parquet(registry)
    _write_messages(root / "src", _rows("ZZZZ", ["2024-01-02", "2024-01-03"]))
    out = f"{root}/scored"
    finish(
        stream_score_best_model(
            spark, f"{root}/src", registry, out, f"{root}/ckpt"
        )
    )
    return read_state(spark, out, "symbol string, batch_id int")


@pytest.mark.timeout(600)
@pytest.mark.parametrize(
    "case",
    [_enrich_without_match, _index_without_tokens, _score_without_model],
    ids=["enrich_inner", "index_token_free", "score_no_model"],
)
def test_zero_row_batch_leaves_readable_empty_sink(spark, tmp_path, case):
    """A micro-batch that writes zero rows to a fresh batch-keyed sink
    leaves it readable as "no state yet": the sink's reader returns no
    row and raises nothing."""
    assert case(spark, tmp_path).count() == 0
