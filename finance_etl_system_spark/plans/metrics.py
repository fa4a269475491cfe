"""Executed-plan SQL metrics: what a query ACTUALLY read, shuffled,
and produced — the runtime complement to the static plan facts in
plans/inspect.py ("measure, don't guess").

After an action runs, every physical operator holds its SQLMetrics
(the numbers the Spark UI shows). This walks the final adaptive plan
— unwrapping AdaptiveSparkPlan and QueryStage nodes — and aggregates
the ones capacity planning needs:

- ``files_size`` / ``num_files`` / ``scan_rows``: bytes and rows that
  survived partition pruning + pushdown at each parquet scan. If
  files_size ≈ full table size on a selective query, pruning is NOT
  working — at 100 TB that is the first number to check.
- ``shuffle_write_bytes`` / ``shuffle_write_rows``: total exchange
  volume. THE scale-out cost driver; a map-side-combined aggregate
  shows orders of magnitude less than its input here.
- ``peak_memory``: max single-operator peak — spill-risk proxy.

Uses py4j accessors on the executed plan (stable since Spark 3.0's
AQE); returns plain dicts so bench.py can serialize them per round.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame


def _walk(node):
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        yield from _walk(node.executedPlan())
        return
    if "QueryStage" in name:
        yield from _walk(node.plan())
        return
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    yield name, metrics
    children = node.children().iterator()
    while children.hasNext():
        yield from _walk(children.next())


def executed_metrics(df: DataFrame, *, execute: bool = False) -> dict[str, Any]:
    """Aggregate SQLMetrics of ``df``'s LAST execution.

    The counters belong to THIS frame's query execution: ``df.count()``
    compiles a different (count-aggregate) plan and leaves them zero —
    run ``df.collect()`` first, or pass ``execute=True`` to run this
    frame's physical plan once (no driver-side result transfer) before
    reading the counters."""
    if execute:
        df._jdf.queryExecution().executedPlan().execute().count()
    scans: list[dict[str, int]] = []
    shuffle_bytes = shuffle_rows = 0
    broadcast_bytes = 0
    peak_memory = 0
    for name, m in _walk(df._jdf.queryExecution().executedPlan()):
        if name.startswith("Scan"):
            scans.append(
                {
                    "num_files": int(m.get("numFiles", 0)),
                    "files_size": int(m.get("filesSize", 0)),
                    "scan_rows": int(m.get("numOutputRows", 0)),
                }
            )
        elif name == "BroadcastExchange":
            broadcast_bytes += int(m.get("dataSize", 0))
        elif name in ("Exchange", "ReusedExchange"):
            # ReusedExchange delegates to the original exchange's
            # metrics, so each reuse re-counts that write once per
            # consumer: the totals measure exchange volume CONSUMED by
            # the plan, not bytes physically written (reuse means the
            # write happened once). A reused BROADCAST exchange has no
            # shuffle counters — route it to broadcast_bytes.
            if name == "ReusedExchange" and "shuffleBytesWritten" not in m:
                broadcast_bytes += int(m.get("dataSize", 0))
            else:
                shuffle_bytes += int(
                    m.get("shuffleBytesWritten", m.get("dataSize", 0))
                )
                shuffle_rows += int(m.get("shuffleRecordsWritten", 0))
        peak_memory = max(peak_memory, int(m.get("peakMemory", 0)))
    return {
        "scans": scans,
        "files_size": sum(s["files_size"] for s in scans),
        "scan_rows": sum(s["scan_rows"] for s in scans),
        "shuffle_write_bytes": shuffle_bytes,
        "shuffle_write_rows": shuffle_rows,
        "broadcast_bytes": broadcast_bytes,
        "peak_memory": peak_memory,
    }


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far.

    Reads ``CodegenMetrics.METRIC_COMPILATION_TIME``'s count, which
    grows by one per cache miss of Spark's generated-class cache; a
    hit compiles nothing. The difference across a warm re-run of a
    query is the code it generates anew each run."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(codegen.METRIC_COMPILATION_TIME().getCount())
