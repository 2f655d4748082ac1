#!/usr/bin/env python3
"""Steadiness check: is one run of the benchmark a reliable measurement?

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--out results.json]

Runs every workload `--runs` times per set, each run with its own seed,
interleaving the sets (A1 B1 A2 B2 ...) so that drift in the machine
lands on both. For every end-to-end metric it prints, per set, the
median, the quartiles (`statistics.quantiles(n=4)`) and the spread
(interquartile distance / median), then the shift of set B's median
against set A's in the metric's worse direction, each against the
metric's bound in BENCHMARK.json:

  spread <= bound / 3  and  shift <= bound   -> steady
  spread <= bound      and  shift <= bound   -> within bound
  otherwise                                  -> UNSTEADY

`setup_s` has no spread requirement, only the shift. Exits 1 if any
metric is UNSTEADY or any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    workloads = a.workloads.split(",")

    results = {s: {w: [] for w in workloads} for s in "AB"[:a.sets]}
    bad_runs = 0
    for i in range(a.runs):
        for s_i, s in enumerate("AB"[:a.sets]):
            for w in workloads:
                seed = a.seed0 + s_i * a.runs + i
                r = one_run(w, seed, a.seconds)
                ok = r is not None and r["correct"] and r["failed"] == 0
                bad_runs += not ok
                print(f"run {s}{i + 1} {w} seed={seed}: "
                      f"{'ok' if ok else 'FAILED'}", file=sys.stderr, flush=True)
                if r is not None:
                    results[s][w].append(r)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)

    unsteady = 0
    print(f"{'workload':<11} {'metric':<26} {'set':<3} {'q1':>10} {'median':>10} {'q3':>10} "
          f"{'spread':>7} {'shift':>7} {'bound':>6}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, worst_spread = [], 0.0
            rows = []
            for s in results:
                xs = [r["metrics"][name]["value"] for r in results[s][w] if r["correct"]]
                if len(xs) < 4:
                    rows.append(f"{w:<11} {name:<26} {s:<3} too few runs ({len(xs)})")
                    unsteady += 1
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med
                meds.append(med)
                if name != "setup_s":
                    worst_spread = max(worst_spread, spread)
                rows.append(f"{w:<11} {name:<26} {s:<3} {q1:>10.4g} {med:>10.4g} {q3:>10.4g} "
                            f"{spread:>7.3f}")
            shift = 0.0
            if len(meds) == 2:
                sign = 1 if m["better"] == "lower" else -1
                shift = sign * (meds[1] - meds[0]) / meds[0]
            if worst_spread <= bound / 3 and shift <= bound:
                verdict = "steady"
            elif worst_spread <= bound and shift <= bound:
                verdict = "within bound"
            else:
                verdict = "UNSTEADY"
                unsteady += 1
            rows[-1] += f" {shift:>7.3f} {bound:>6.2f}  {verdict}"
            print("\n".join(rows))
    print(f"{bad_runs} failed runs, {unsteady} unsteady metrics")
    sys.exit(1 if unsteady or bad_runs else 0)


if __name__ == "__main__":
    main()
