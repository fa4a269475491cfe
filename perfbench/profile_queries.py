"""Traced pass over all 78 headline queries: where each query's time goes,
and the sample ``query_mix`` runs, chosen from those measurements.

Usage (from the root of a checkout):

    python3 perfbench/profile_queries.py

On the tables ``query_mix`` generates for seed ``SEED`` it makes
one untimed warm pass and ``PASSES`` traced passes over ``bench.HEADLINE``
and records, per query, the mean wall time of one instance, split into
driver-side build, jobs the builder starts and the action, plus its time inside ``operators.*`` and whether it crosses the
JVM/Python boundary. Queries fall in two halves by the module of their
builder (``OLAP_MODULES`` / ``CURATION_MODULES``). ``select`` then picks,
per half, the sample whose cost shares come closest to the half's. The
record goes to ``results/profile.json``.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

OLAP_MODULES = ("relational joins analytics analytics2 analytics3 analytics4 aggregates "
                "windows streaming_twins finance series indicators anomaly ml expectations "
                "reconcile governance hllq udafq variantq").split()
CURATION_MODULES = ("text quality substring retrieval dedup curation sampling similarity "
                    "unsupervised drift graphq recursive").split()
SEED = 1
PASSES = 2
# The cost kinds a sample should reproduce, as shares of the half's
# wall time. driver + barrier + action is the whole query; operators and
# python overlap them.
DIMS = ("driver", "barrier", "action", "operators", "python")
# Per-pass wall-time budget of each half's sample, in seconds of one
# warm instance per query on a 4-vCPU host: what a run of the benchmark
# can afford for a warm pass plus at least two timed passes.
BUDGET_S = {"olap": 2.5, "curation": 4.0}
SAMPLE_SIZES = (2, 3, 4)


def half_of(names: list[str]) -> dict[str, str]:
    """Query name -> ``olap`` or ``curation``, by its builder's module."""
    where = {}
    for m in OLAP_MODULES + CURATION_MODULES:
        mod = importlib.import_module(f"finance_etl_system_spark.queries.{m}")
        for q in getattr(mod, "QUERIES", {}):
            where[q] = "olap" if m in OLAP_MODULES else "curation"
    missing = [n for n in names if n not in where]
    if missing:
        raise SystemExit(f"headline queries outside both halves: {missing}")
    return {n: where[n] for n in names}


def costs(rec: dict) -> dict[str, float]:
    """One query's cost vector, in seconds per instance."""
    return {
        "driver": rec["build_driver_s"],
        "barrier": rec["build_jobs_s"],
        "action": rec["action_s"],
        "operators": rec["operators_self_s"],
        "python": rec["wall_s"] if rec["python_bytes_sent"] > 0 else 0.0,
    }


def shares(recs: list[dict]) -> dict[str, float]:
    wall = sum(r["wall_s"] for r in recs)
    return {d: sum(costs(r)[d] for r in recs) / wall for d in DIMS}


def select(queries: dict[str, dict], half: str) -> dict:
    """The sample of ``SAMPLE_SIZES`` queries within ``BUDGET_S[half]``
    nearest to the whole half: the L1 distance between their cost shares
    and the half's, plus the relative distance between their mean wall
    time and the half's (so the sample is neither only the cheapest nor
    only the dearest queries). Samples must have a non-zero share of
    every cost kind the half spends at least a tenth of its time on, and
    only queries with a stable, checkable result (the same non-zero row
    count in every pass) are eligible. Ties go to the first sample in
    name order."""
    recs = {n: r for n, r in queries.items() if r["half"] == half}
    target = shares(list(recs.values()))
    mean_s = statistics.fmean(r["wall_s"] for r in recs.values())
    needed = [d for d in DIMS if target[d] >= 0.10]
    eligible = sorted(n for n, r in recs.items() if r["stable_rows"])
    best = None
    for k in SAMPLE_SIZES:
        for combo in itertools.combinations(eligible, k):
            rs = [recs[n] for n in combo]
            pass_s = sum(r["wall_s"] for r in rs)
            if pass_s > BUDGET_S[half]:
                continue
            s = shares(rs)
            if any(s[d] == 0 for d in needed):
                continue
            dist = (sum(abs(s[d] - target[d]) for d in DIMS)
                    + abs(pass_s / k / mean_s - 1))
            if best is None or dist < best[0]:
                best = (dist, combo, s, pass_s)
    if best is None:
        raise SystemExit(f"no sample of {half} fits {BUDGET_S[half]} s")
    dist, combo, s, pass_s = best
    return {"queries": list(combo), "shares": s, "half_shares": target,
            "distance": dist, "pass_s": pass_s, "mean_s": pass_s / len(combo),
            "half_mean_s": mean_s, "half_pass_s": mean_s * len(recs)}


def profile(seed: int) -> dict:
    sys.path[:0] = [HERE, ROOT]
    import run
    from bench import HEADLINE
    from gen_tables import write_tables
    from mixes import QueryMix
    from tracing import Tracer, layer_metrics

    work = run._prepare_env("profile")
    data_dir = os.path.join(work, "tables")
    write_tables(data_dir, seed, 0.01)
    halves = half_of(HEADLINE)

    from finance_etl_system_spark.session import get_spark

    spark = get_spark("perfbench-profile")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(enabled=True)
    tracer.spark = spark
    tracer.instrument()
    mix = QueryMix(data_dir, tracer, run.log, names=list(HEADLINE))
    mix.setup(spark)
    for p in range(PASSES):
        for name in HEADLINE:
            mix._run(spark, name, timed=True, trace_id=f"p{p}:{name}")
    jobs = tracer.collect_jobs()
    env = run._environment(spark, os.getloadavg())
    run._stop(spark)

    roots: dict[str, set[int]] = {}
    for sid in mix.root_spans:
        roots.setdefault(tracer.spans[sid].name, set()).add(sid)
    out = {}
    for name in HEADLINE:
        if name not in roots:
            out[name] = {"half": halves[name], "failed": True, "stable_rows": False}
            continue
        n = len(roots[name])
        m = layer_metrics(tracer, jobs, roots[name])
        plan = mix.plan.get(name, {})
        out[name] = {
            "half": halves[name],
            "wall_s": statistics.fmean(mix.by_query[name]),
            "build_driver_s": m["queries.build_driver_s"] / n,
            "build_jobs_s": m["queries.build_jobs_s"] / n,
            "build_jobs": m["queries.build_jobs"] / n,
            "action_s": m["queries.action_s"] / n,
            "operators_self_s": m["operators.self_s"] / n,
            "catalog_load_table_s": m["catalog.load_table_s"] / n,
            "python_bytes_sent": plan.get("python.bytes_sent", 0) / n,
            "stable_rows": len(mix.rows[name]) == 1 and 0 not in mix.rows[name],
        }
    return {"seed": seed, "passes": PASSES, "environment": env,
            "failures": mix.failures, "queries": out}


def main() -> int:
    rec = profile(SEED)
    ok = {n: r for n, r in rec["queries"].items() if not r.get("failed")}
    rec["sample"] = {h: select(ok, h) for h in ("olap", "curation")}
    for h, s in rec["sample"].items():
        print(f"{h}: {s['queries']}  pass {s['pass_s']:.2f}s of {s['half_pass_s']:.1f}s  "
              f"distance {s['distance']:.3f}")
        for d in DIMS:
            print(f"  {d:<10} half {s['half_shares'][d]:.3f}  sample {s['shares'][d]:.3f}")
    with open(os.path.join(HERE, "results", "profile.json"), "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
