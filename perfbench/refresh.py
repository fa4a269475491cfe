"""The ``daily_refresh`` workload: the reference's daily pipeline over a
seeded raw feed (``gen_feed.py``).

Timed, in this order, one client, closed loop:

1. ``backfill``: the first ``incremental_etl`` over the full history;
2. ``train``: ``train_ols_per_group`` + ``train_gbt_per_group`` ->
   ``unify_registries`` -> ``save_model_registry``;
3. daily cycles until the run's seconds are spent (at least
   ``MIN_CYCLES``): ``incremental_etl`` on that day's rows, then
   ``serve_best_model`` over every symbol's latest row, then the
   predictions written;
4. ``LOOKUPS`` single-symbol lookups: re-open the processed table and
   the registry, keep one seeded symbol's latest row, serve and collect.

It is the only workload that writes (dynamic partition overwrite,
watermark state, registry), and ``queries/`` and ``operators/`` never
run in it.
"""

from __future__ import annotations

import glob
import math
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import gen_feed
from finance_etl_system_spark.pipeline.etl import (
    RAW_SCHEMA, clean_and_prepare, compute_processed, incremental_etl, read_watermarks)
from finance_etl_system_spark.pipeline.ml import (
    save_model_registry, serve_best_model, train_ols_per_group, unify_registries)
from finance_etl_system_spark.pipeline.trees import train_gbt_per_group
from tracing import plan_counters

SYMBOLS = 20
HISTORY_DAYS = 260
MIN_CYCLES = 1
# No daily cycle measured under 10 s on a 4-vCPU host; the feed holds as
# many days as a host twice as fast could consume in a run's seconds, so
# a run does not generate files it cannot read.
CYCLE_FLOOR_S = 5.0
LOOKUPS = 4
FEATURES = ["sma_5", "sma_20", "rsi", "macd", "day_change_pct"]
TARGET = "next_close"


def _latest_rows(df):
    w = Window.partitionBy("symbol").orderBy(F.col("trading_date").desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _with_target(df):
    w = Window.partitionBy("symbol").orderBy("trading_date")
    return df.withColumn(TARGET, F.lead("close").over(w))


def _storage(path: str) -> dict[str, tuple[float, int]]:
    return {f: (os.path.getmtime(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/**/*.parquet", recursive=True)}


class DailyRefresh:
    def __init__(self, work: str, seed: int, seconds: float, tracer, log):
        self.work, self.tracer, self.log = work, tracer, log
        new_days = MIN_CYCLES + math.ceil(seconds / CYCLE_FLOOR_S)
        self.feed = gen_feed.write_feed(os.path.join(work, "feed"), seed, SYMBOLS,
                                        HISTORY_DAYS, new_days)
        rng = np.random.default_rng(seed)
        self.lookup_symbols = [str(s) for s in rng.choice(self.feed["symbols"], LOOKUPS,
                                                          replace=False)]
        self.out = os.path.join(work, "processed")
        self.state = os.path.join(work, "state")
        self.registry_path = os.path.join(work, "registry")
        self.pred_dir = os.path.join(work, "predictions")
        self.times: dict[str, list[float]] = {"backfill": [], "train": [], "cycle": [],
                                              "lookup": []}
        self.failures: list[str] = []
        self.root_spans: set[int] = set()
        self.storage: dict[str, float] = {}
        self.plan: dict[str, float] = {}
        self.cycles = 0
        self.loop_s = 0.0
        self.lookups: dict[str, float] = {}

    # -- ops -----------------------------------------------------------
    def _op(self, kind: str, trace_id: str, fn) -> bool:
        t0 = time.perf_counter()
        try:
            with self.tracer.op(trace_id, kind) as root:
                fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            self.failures.append(f"{trace_id}: {type(exc).__name__}: {str(exc)[:200]}")
            self.log(f"FAILED {trace_id}: {exc!r}"[:300])
            return False
        self.times[kind].append(time.perf_counter() - t0)
        if root is not None:
            self.root_spans.add(root.sid)
        return True

    def _etl(self, spark, paths: list[str]) -> None:
        raw = spark.read.schema(RAW_SCHEMA).parquet(*paths)
        with self.tracer.span("etl.incremental_etl"):
            incremental_etl(spark, raw, self.state, self.out)

    def _train(self, spark) -> None:
        tr = self.tracer
        hist = _with_target(spark.read.parquet(self.out))
        kw = dict(group_col="symbol", feature_cols=FEATURES, target_col=TARGET)
        ols = train_ols_per_group(hist, **kw)
        gbt = train_gbt_per_group(hist, time_col="trading_date", **kw)
        if tr.enabled:
            # traced run only: each family materialized on its own
            with tr.span("ml.train_ols"):
                ols_done = ols.localCheckpoint(eager=True)
            with tr.span("ml.train_gbt"):
                gbt_done = gbt.localCheckpoint(eager=True)
            for frame in (ols, gbt):
                plan_counters(tr, frame, self.plan)
            ols, gbt = ols_done, gbt_done
        with tr.span("ml.registry_write"):
            save_model_registry(unify_registries(ols, gbt), self.registry_path)

    def _serve(self, processed, registry):
        return serve_best_model(_latest_rows(processed), registry, group_col="symbol",
                                feature_cols=FEATURES).select(
            "symbol", "trading_date", "model_name", "prediction")

    def _cycle(self, spark, day_path: str, k: int) -> None:
        self._etl(spark, [day_path])
        with self.tracer.span("ml.serve_score"):
            preds = self._serve(spark.read.parquet(self.out),
                                spark.read.parquet(self.registry_path))
            preds.write.mode("overwrite").parquet(f"{self.pred_dir}/cycle={k}")

    def _lookup(self, spark, symbol: str) -> None:
        with self.tracer.span("lookup.open"):
            processed = spark.read.parquet(self.out)
            registry = spark.read.parquet(self.registry_path)
        rows = self._serve(processed.filter(F.col("symbol") == symbol),
                           registry).collect()
        self.lookups[symbol] = rows[0]["prediction"] if rows else float("nan")

    # -- workload --------------------------------------------------------
    def setup(self, spark) -> None:
        """No warm-up: a daily refresh is a batch job that pays its JVM's
        cold start on every run, so the timed ops start cold as it does.
        Set-up is the session alone."""

    def run(self, spark, seed: int, seconds: float) -> None:
        start = time.perf_counter()
        self._op("backfill", "backfill", lambda: self._etl(spark, [self.feed["history"]]))
        self._op("train", "train", lambda: self._train(spark))
        for k, day in enumerate(self.feed["daily"]):
            if k >= MIN_CYCLES and time.perf_counter() - start >= seconds:
                break
            before = _storage(self.out) if self.tracer.enabled else None
            ok = self._op("cycle", f"cycle{k}", lambda: self._cycle(spark, day, k))
            self.cycles = k + 1
            if ok and before is not None:
                self._note_storage(before, len(self.feed["symbols"]))
        else:
            self.log(f"feed exhausted after {self.cycles} cycles")
        for i, sym in enumerate(self.lookup_symbols):
            self._op("lookup", f"lookup{i}", lambda: self._lookup(spark, sym))
        self.loop_s = time.perf_counter() - start

    def _note_storage(self, before: dict, rows_new: int) -> None:
        """Files a cycle wrote, from the directory walk and their footers."""
        after = _storage(self.out)
        written = [f for f, st in after.items() if before.get(f) != st]
        s = self.storage
        s["etl.rows_new"] = s.get("etl.rows_new", 0) + rows_new
        s["etl.rows_written"] = s.get("etl.rows_written", 0) + sum(
            pq.ParquetFile(f).metadata.num_rows for f in written)
        s["etl.files_written"] = s.get("etl.files_written", 0) + len(written)
        s["etl.bytes_written"] = s.get("etl.bytes_written", 0) + sum(
            after[f][1] for f in written)
        s["etl.files_total"] = len(after)

    def traced_counts(self) -> dict[str, float]:
        s = {**self.storage, **self.plan}
        if s.get("etl.rows_new"):
            s["etl.write_amplification"] = s["etl.rows_written"] / s["etl.rows_new"]
        s["ml.models_trained"] = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(f"{self.registry_path}/*.parquet"))
        return s

    # -- checks ----------------------------------------------------------
    def check(self, spark) -> list[str]:
        """Untimed output checks; returns one line per failed check."""
        bad = []
        consumed = [self.feed["history"], *self.feed["daily"][: self.cycles]]
        clean = clean_and_prepare(spark.read.schema(RAW_SCHEMA).parquet(*consumed))
        expect = compute_processed(clean)
        got = spark.read.parquet(self.out)
        cols = [c for c in expect.columns if c != "row_key"]
        a = got.select(*cols).orderBy("symbol", "trading_date").toPandas()
        b = expect.select(*cols).orderBy("symbol", "trading_date").toPandas()
        try:
            pd.testing.assert_frame_equal(a, b, atol=1e-9)
        except AssertionError as exc:
            bad.append(f"processed table != full recompute: {str(exc)[:300]}")

        marks = read_watermarks(spark, self.state)
        want = {r["symbol"]: r["m"] for r in
                clean.groupBy("symbol").agg(F.max("event_time").alias("m")).collect()}
        if marks != want:
            diff = sorted(s for s in set(marks) | set(want) if marks.get(s) != want.get(s))
            bad.append(f"watermarks differ for {len(diff)} symbols, e.g. {diff[:3]}")

        preds = f"{self.pred_dir}/cycle={self.cycles - 1}"
        last = ({r["symbol"]: r["prediction"] for r in spark.read.parquet(preds).collect()}
                if os.path.isdir(preds) else {})
        for sym, pred in self.lookups.items():
            if not abs(pred - last.get(sym, float("nan"))) <= 1e-9:
                bad.append(f"lookup {sym}: {pred} != refresh prediction {last.get(sym)}")
        return bad

    def ops_done(self) -> int:
        return sum(len(v) for v in self.times.values())

    def checks_attempted(self) -> int:
        return 2 + len(self.lookups)

    def summary(self) -> dict[str, float]:
        t = self.times
        return {
            "backfill_s": t["backfill"][0] if t["backfill"] else float("nan"),
            "train_s": t["train"][0] if t["train"] else float("nan"),
            "refresh_p50_s": statistics.median(t["cycle"]) if t["cycle"] else float("nan"),
            "lookup_p50_s": statistics.median(t["lookup"]) if t["lookup"] else float("nan"),
        }
