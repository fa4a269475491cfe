"""Standing benchmark of the engine: two workloads, timed end to end and
traced per layer. See perfbench/README.md.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` makes the
separate traced run and reports the per-layer metrics, writing its
spans to ``perfbench/.work/trace_<workload>.json``. Both print a table
of every metric by name and unit, then, as the last line of standard
output, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. The exit code is 0 when the run completed, whatever its
checks found; the benchmark's own failure exits non-zero without a
result.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "daily_refresh")

# name -> unit. END_TO_END is what --trace 0 reports as its result; every
# workload has each of them and none of them can be 0. peak_rss_mb and the
# latency percentiles are printed, not reported: across seeds they spread
# by 0.21-0.25 of their median (JVM heap growth, host speed drift), as
# much as the largest bound a benchmark may set.
END_TO_END = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "cpu_s_per_op": "s",
}
# The table printed for people: ten metrics by name, each on the
# workloads it applies to.
PRINTED_METRICS = {
    "setup_s": "s",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "queries_per_min": "1/min",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "backfill_s": "s",
    "refresh_p50_s": "s",
    "train_s": "s",
    "lookup_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "queries.build_s": "s",
    "queries.build_driver_s": "s",
    "queries.build_jobs": "count",
    "queries.build_jobs_s": "s",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "operators.calls": "count",
    "operators.self_s": "s",
    "operators.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_max_over_p50": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.broadcast_bytes": "bytes",
    "spark.peak_memory_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "etl.read_watermarks_s": "s",
    "etl.write_processed_s": "s",
    "etl.write_watermarks_s": "s",
    "etl.self_s": "s",
    "etl.jobs": "count",
    "etl.rows_new": "count",
    "etl.rows_written": "count",
    "etl.write_amplification": "ratio",
    "etl.files_written": "count",
    "etl.bytes_written": "bytes",
    "etl.files_total": "count",
    "ml.train_ols_s": "s",
    "ml.train_gbt_s": "s",
    "ml.registry_write_s": "s",
    "ml.models_trained": "count",
    "ml.serve_score_s": "s",
    "lookup.open_s": "s",
    "lookup.jobs": "count",
    "trace.ops": "count",
    "trace.spans": "count",
    "trace.gaps": "count",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _driver_mem() -> str:
    """Heap for the local-mode driver JVM: a quarter of host RAM, 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        kib = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


def _prepare_env(workload: str) -> str:
    """Pin cores and heap, put the checkout on the workers' PYTHONPATH and
    keep every temporary file in a per-workload directory of the checkout."""
    work = os.path.join(HERE, ".work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    os.chdir(work)
    return work


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kib = int(next(line for line in fh if line.startswith("VmHWM")).split()[1])
    return kib / 1024.0


def _stop(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _tree_cpu_s() -> float:
    """User+system CPU seconds of this process and every descendant (the
    driver JVM and its Python workers), reaped children included."""
    stat = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited between listdir and open
            continue
        stat[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _steal_share(start: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests during the run."""
    steal, total = _cpu_ticks()
    return (steal - start[0]) / max(1, total - start[1])


def _environment(spark, load_avg: tuple[float, ...]) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "load_avg_at_start": load_avg,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: the engine's standing benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    for mod in ("finance_etl_system_spark", "tools", "pyspark"):
        if importlib.util.find_spec(mod) is None:
            log(f"cannot import {mod}: run from the root of a full checkout")
            return 2

    load_avg = os.getloadavg()
    steal0 = _cpu_ticks()
    work = _prepare_env(args.workload)

    from tracing import Tracer, layer_metrics

    # Inputs first: generation is not part of set-up time.
    tracer = Tracer(enabled=bool(args.trace))
    if args.workload == "daily_refresh":
        from refresh import DailyRefresh

        wl = DailyRefresh(work, args.seed, args.seconds, tracer, log)
    else:
        from gen_tables import write_tables
        from mixes import QueryMix

        data_dir = os.path.join(work, "tables")
        write_tables(data_dir, args.seed, 0.01)
        wl = QueryMix(data_dir, tracer, log)

    from finance_etl_system_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer.spark = spark
    if tracer.enabled:
        tracer.instrument()
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    log(f"set-up {setup_s:.1f}s (session {session_s:.1f}s)")

    cpu0 = _tree_cpu_s()
    wl.run(spark, args.seed, args.seconds)
    loop_cpu_s = _tree_cpu_s() - cpu0
    peak_rss = _peak_rss_mb(spark)
    log("timed loop done; checking outputs")
    try:
        bad_checks = wl.check(spark)
    except Exception as exc:  # noqa: BLE001 — a check that cannot run has failed
        log(f"checks raised {exc!r}"[:300])
        bad_checks = [f"checks raised {type(exc).__name__}: {str(exc)[:200]}"]
    env = _environment(spark, load_avg)

    per_layer = {}
    if tracer.enabled:
        jobs = tracer.collect_jobs()
        per_layer.update(layer_metrics(tracer, jobs, wl.root_spans))
        if args.workload == "daily_refresh":
            per_layer.update(wl.traced_counts())
        else:
            per_layer.update(wl.plan_totals())
        per_layer["session.start_s"] = session_s
        per_layer["trace.ops"] = len(wl.root_spans)
        per_layer["trace.spans"] = len(tracer.spans)
    _stop(spark)

    failures = wl.failures + bad_checks
    attempted = wl.ops_done() + len(wl.failures) + wl.checks_attempted()
    failed = len(failures)
    printed = {"setup_s": setup_s, "failed_frac": failed / attempted,
             "peak_rss_mb": peak_rss, **wl.summary()}
    done = max(1, wl.ops_done())
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "ops_per_min": 60.0 * wl.ops_done() / wl.loop_s,
        "cpu_s_per_op": loop_cpu_s / done,
    }
    env["steal_share"] = _steal_share(steal0)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"environment {json.dumps(env)}")
    for name, unit in PRINTED_METRICS.items():
        v = printed.get(name)
        note = f"  (n={wl.ops_done()})" if name == "query_p90_s" and v is not None else ""
        print(f"  {name:<16} {'n/a' if v is None else f'{v:.6g}':>12} {unit}{note}")
    if args.workload == "query_mix":
        for name, ts in wl.by_query.items():
            print(f"  query {name:<28} " + " ".join(f"{t:.3f}" for t in ts) + " s")
    for line in failures:
        print(f"  FAILED {line}")

    if tracer.enabled:
        per_layer["trace.gaps"] = sum(tracer.gaps.values())
        metrics = {k: {"value": float(per_layer.get(k, 0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        for k, u in PER_LAYER.items():
            print(f"  {k:<28} {per_layer.get(k, 0):>14.6g} {u}")
        for g, n in tracer.gaps.items():
            print(f"  GAP {g} x{n}: {tracer.gap_reasons[g]}")
        tracer.report(os.path.join(HERE, ".work", f"trace_{args.workload}.json"), {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "environment": env, "per_layer": per_layer, "end_to_end": e2e,
            "printed_metrics": printed, "failures": failures,
        })
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
