"""Run the benchmark over several seeds and summarize it, optionally with
traced runs for the per-layer table and the tracing overhead.

Usage (from the root of a checkout):

    python3 perfbench/sweep.py --workload query_mix --seeds 1-10 --seconds 5 \
        [--traced 3] [--sets 2] [--out perfbench/results/sweep.json]

For each end-to-end metric it prints the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median. ``--traced N`` follows
each of the first N untraced runs with a ``--trace 1`` run on the same
seed: the per-layer record is the first traced run, and the tracing
overhead of a metric is the median over these adjacent pairs of the
traced value over the untraced one, minus one (adjacent pairs keep the
host's drift between minutes out of the ratio). ``--sets 2`` repeats the
untraced runs as a second set, after the first set of every workload,
and reports how far each median moved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        if "FAILED" in line:
            print(f"    {line.strip()}")
    return json.loads(lines[-1]), wall


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def sweep(wl: str, seeds: list[int], seconds: int, traced: int) -> dict:
    """One set: an untraced run per seed, the first ``traced`` of them
    followed by a traced run on the same seed."""
    runs, walls, checks, pairs = [], [], [], []
    rec: dict = {}
    for i, seed in enumerate(seeds):
        res, wall = run_once(wl, seed, seconds, 0)
        runs.append(res["metrics"])
        walls.append(wall)
        checks.append((res["correct"], res["attempted"], res["failed"]))
        print(f"{wl} seed {seed}: {wall:.1f}s wall, correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        if i < traced:
            tres, twall = run_once(wl, seed, seconds, 1)
            with open(os.path.join(HERE, ".work", f"trace_{wl}.json")) as fh:
                trace = json.load(fh)
            pairs.append({k: trace["end_to_end"][k] / v["value"] - 1
                          for k, v in res["metrics"].items()})
            rec.setdefault("traced", {
                "seed": seed,
                "wall_s": twall,
                "correct": tres["correct"],
                "per_layer": {k: v["value"] for k, v in tres["metrics"].items()},
                "gaps": trace["gaps"],
                "gap_reasons": trace["gap_reasons"],
                "environment": trace["environment"],
                "printed_metrics": trace["printed_metrics"],
            })
    rec.update({
        "seconds": seconds,
        "seeds": seeds,
        "wall_s": walls,
        "checks": checks,
        "end_to_end": {k: {"unit": runs[0][k]["unit"],
                           **summarize([r[k]["value"] for r in runs])}
                       for k in runs[0]},
    })
    for k, s in rec["end_to_end"].items():
        print(f"  {wl} {k:<12} median {s['median']:.4g} {s['unit']}  "
              f"q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f}")
    if pairs:
        rec["traced"]["overhead_pairs"] = pairs
        rec["traced"]["overhead"] = {k: statistics.median(p[k] for p in pairs)
                                     for k in pairs[0]}
        print(f"  {wl} tracing overhead ({len(pairs)} pairs): " + " ".join(
            f"{k}={v:+.1%}" for k, v in rec["traced"]["overhead"].items()))
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--traced", type=int, default=0, metavar="N")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()

    sets = []
    for n in range(args.sets):
        sets.append({wl: sweep(wl, _seeds(args.seeds), args.seconds,
                               args.traced if n == 0 else 0)
                     for wl in args.workload})
    report = {"sets": sets}
    if len(sets) > 1:
        # later set's median against the first set's, as a share of the
        # first: positive is a higher value
        report["median_shift"] = {
            wl: {k: sets[-1][wl]["end_to_end"][k]["median"] / e["median"] - 1
                 for k, e in sets[0][wl]["end_to_end"].items()}
            for wl in args.workload}
        for wl, shift in report["median_shift"].items():
            print(f"  {wl} median shift, last set vs first: " + " ".join(
                f"{k}={v:+.1%}" for k, v in shift.items()))
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
