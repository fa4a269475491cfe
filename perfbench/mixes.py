"""The ``query_mix`` workload: headline queries of the registry, one
client, closed loop.

The next query is built and run only after the previous one returned its
rows. Each pass runs every query of the mix once, in an order the seed
permutes; passes repeat until the run's seconds are spent, and the last
pass always completes, so every query carries the same weight in the
medians. A query instance is timed from the builder call to the last row
on the driver (``toPandas``): that is what a caller of the registry
waits for.
"""

from __future__ import annotations

import time

import numpy as np

from finance_etl_system_spark.queries import all_oracle_sql, all_queries
from tools.oracle_check import check_query, open_oracle
from tracing import plan_counters

# Two halves of bench.HEADLINE, split by the module of each query's
# builder, and from each a fixed sample small enough that a run (warm
# pass plus at least two timed passes) fits the benchmark's time budget.
# profile_queries.py chose them from a traced pass of all 78 queries
# (results/profile.json): per half, the sample whose split of wall time
# into driver-side build, builder jobs, action, operators/ and the
# Python boundary, and whose mean query time, come nearest the half's.
# The SQL-engine half spends ~3/4 of its time in one scan/shuffle action
# and ~1/4 in driver-side plan construction (py4j, catalog.load_table);
# operators/ barely runs. In the curation half operators/ and builder
# (barrier) jobs each take ~1/5 and Arrow/pandas UDFs ~1/5:
# curriculum_pack starts 9 jobs in its builder, knn_sq8 crosses the
# Python boundary. Every query of the sample has a DuckDB oracle.
MIN_PASSES = 2
SQL_ENGINE = ["accuracy_timeseries", "data_expectations", "pricing_summary",
              "window_range_frame"]
CURATION = ["curriculum_pack", "knn_sq8", "quality_repetition", "unigram_surprisal"]


class _Rows:
    """A finished result handed to ``oracle_check.check_query`` in place of
    a DataFrame, so the check compares the rows the timed run returned."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — the DataFrame method name
        return self._pdf


class QueryMix:
    def __init__(self, data_dir: str, tracer, log, names: list[str] | None = None):
        self.names = names or SQL_ENGINE + CURATION
        self.data_dir = data_dir
        self.tracer = tracer
        self.log = log
        self.qs: dict = {}
        self.oracles: dict = {}
        self.times: list[float] = []
        self.by_query: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.rows: dict[str, set[int]] = {n: set() for n in self.names}
        self.last: dict = {}
        self.root_spans: set[int] = set()
        self.plan: dict[str, dict] = {}  # query -> plan counters
        self.loop_s = 0.0

    def setup(self, spark) -> None:
        """Registry import and one untimed warm pass on the run's own
        tables: schema memo filled, every plan's code generated once."""
        self.qs = all_queries()
        self.oracles = all_oracle_sql()
        for name in self.names:
            self._run(spark, name, timed=False)

    def _run(self, spark, name: str, timed: bool, trace_id: str = "") -> None:
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.op(trace_id or f"warm:{name}", name) as root:
                with tr.span("queries.build"):
                    df = self.qs[name](spark, self.data_dir)
                with tr.span("queries.action"):
                    pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed query is a counted op
            self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            self.log(f"FAILED {name}: {exc!r}"[:300])
            return
        dt = time.perf_counter() - t0
        self.rows[name].add(len(pdf))
        if not timed:
            return
        self.times.append(dt)
        self.by_query.setdefault(name, []).append(dt)
        self.last[name] = pdf
        if tr.enabled:
            self.root_spans.add(root.sid)
            plan_counters(tr, df, self.plan.setdefault(name, {}))

    def run(self, spark, seed: int, seconds: float) -> None:
        rng = np.random.default_rng(seed)
        start = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - start < seconds:
            for i in rng.permutation(len(self.names)):
                self._run(spark, self.names[i], timed=True,
                          trace_id=f"p{passes}:{self.names[i]}")
            passes += 1
        self.loop_s = time.perf_counter() - start

    def check(self, spark) -> list[str]:
        """Untimed output checks; returns one line per failed check."""
        bad = []
        con = open_oracle(self.data_dir)
        try:
            for name in self.names:
                if name not in self.last:
                    continue  # the query itself failed; counted already
                if name not in self.oracles:
                    rows = self.rows[name]
                    if len(rows) != 1 or 0 in rows:
                        bad.append(f"{name}: row counts across passes {sorted(rows)}")
                    continue
                rec = check_query(spark, con, {name: lambda *_: _Rows(self.last[name])},
                                  self.oracles, name, self.data_dir)
                if rec["status"] != "PASS":
                    bad.append(f"{name}: oracle {rec['status']} {'; '.join(rec['problems'])}"[:400])
        finally:
            con.close()
        return bad

    def ops_done(self) -> int:
        return len(self.times)

    def plan_totals(self) -> dict[str, float]:
        """Plan counters over every query: peak memory is a maximum,
        the rest are sums."""
        out: dict[str, float] = {}
        for acc in self.plan.values():
            for k, v in acc.items():
                prev = out.get(k, 0)
                out[k] = max(prev, v) if k == "spark.peak_memory_bytes" else prev + v
        return out

    def summary(self) -> dict[str, float]:
        return {
            "queries_per_min": 60.0 * len(self.times) / self.loop_s,
            "query_p50_s": float(np.median(self.times)),
            "query_p90_s": float(np.percentile(self.times, 90)),
        }

    def checks_attempted(self) -> int:
        return sum(1 for n in self.names if n in self.last)
