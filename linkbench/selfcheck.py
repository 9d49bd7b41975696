#!/usr/bin/env python3
"""Steadiness self-check of the linkage benchmark.

    python3 linkbench/selfcheck.py --runs 10 --sets 2

Runs ``linkbench/run.py`` on every workload ``--runs`` times per set, each
time with another seed, for ``--sets`` sets of the same code. For each
end-to-end metric it reports the spread of a set (distance between the
first and third quartile as a share of the median) against the metric's
bound in ``BENCHMARK.json``, and how much the later sets' medians are
worse than the first set's. It then runs every workload traced on one more
seed, to confirm the output checks also hold there. Exits 1 when a spread
(``setup_s`` excepted) or a median drift exceeds its bound, or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def bench(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark call in its own process; → its result object."""
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        return {"correct": False, "wall_s": wall, "metrics": {}}
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def worse_by(first: float, later: float, better: str) -> float:
    """Share of ``first`` by which ``later`` is worse."""
    if not first:
        return 0.0
    delta = later - first if better == "lower" else first - later
    return delta / abs(first)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--check-seed", type=int, default=7919,
                    help="extra seed for the traced correctness runs; "
                         "negative to skip them")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    metrics = spec["end_to_end"]

    problems: list[str] = []
    report: dict = {"sets": [], "check_seed": {}}
    for k in range(args.sets):
        per_workload = {}
        for w in workloads:
            results = []
            for i in range(args.runs):
                r = bench(w, 1000 * (k + 1) + i, args.seconds, 0)
                results.append(r)
                print(f"set {k} {w} run {i}: correct={r['correct']} "
                      f"wall={r['wall_s']:.1f}s "
                      + " ".join(f"{n}={v['value']:.4g}"
                                 for n, v in r["metrics"].items()),
                      flush=True)
                if not r["correct"]:
                    problems.append(f"set {k} {w} run {i} failed")
            per_workload[w] = {
                m["name"]: [r["metrics"][m["name"]]["value"]
                            for r in results if m["name"] in r["metrics"]]
                for m in metrics
            }
        report["sets"].append(per_workload)

    print("\nworkload metric bound | per-set median (spread) | worst drift")
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cols, medians = [], []
            for per_workload in report["sets"]:
                vals = per_workload[w][name]
                if len(vals) < 2:
                    cols.append("n/a")
                    continue
                med, sp = statistics.median(vals), spread(vals)
                medians.append(med)
                cols.append(f"{med:.4g} ({sp:.3f})")
                if name != "setup_s" and sp > bound:
                    problems.append(f"{w} {name}: spread {sp:.3f} > {bound}")
            drift = max(
                (worse_by(medians[0], m2, m["better"]) for m2 in medians[1:]),
                default=0.0,
            )
            if drift > bound:
                problems.append(f"{w} {name}: median worse by {drift:.3f} "
                                f"> {bound}")
            print(f"{w} {name} {bound} | {' | '.join(cols)} | {drift:+.3f}")

    if args.check_seed >= 0:
        for w in workloads:
            r = bench(w, args.check_seed, args.seconds, 1)
            report["check_seed"][w] = r
            missing = {m["name"] for m in spec["per_layer"]} - set(r["metrics"])
            print(f"check seed {args.check_seed} {w}: correct={r['correct']} "
                  f"wall={r['wall_s']:.1f}s missing={sorted(missing)}")
            if not r["correct"] or missing:
                problems.append(f"traced run of {w} on seed {args.check_seed} "
                                f"failed or missed metrics")

    path = os.path.join(BENCH_DIR, ".out",
                        f"selfcheck-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({**report, "problems": problems}, fh, indent=1)
    print("\n" + ("\n".join(problems) if problems else "steady and correct"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
