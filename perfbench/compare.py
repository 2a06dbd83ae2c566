#!/usr/bin/env python3
"""Compare a parent and a change on the graft benchmark.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS
    python3 perfbench/compare.py --run PARENT_ROOT CHANGE_ROOT [--seeds 1-10] [--workloads a,b]

A result set is a directory of run reports (report-<workload>-<seed>-0.json,
as run.py leaves them in .bench_build/). With --run, the two checkouts are
run alternately on each seed (the parent first on even seeds, the change
first on odd ones) and their .bench_build/ directories are compared.

Runs pair up by workload and seed. Per workload and end-to-end metric the
table gives each side's median and quartiles, the change's win share over
the pairs (ties count for neither side), and a verdict:
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's own spread (quartile distance / median) is wider
              than the bound, and the change does not beat every parent
              run in every run;
  gain        the change wins at least 9 in 10 pairs and the medians
              differ by more than the parent's quartile distance;
  same        none of the above.
Metrics BENCHMARK.json does not gate on are compared against a bound of 0.1.
Every metric's direction comes from BENCHMARK.json or, for the metrics it
does not gate on, from DIRECTION below; a metric named in neither stops
the comparison.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# Direction of every end-to-end metric a run report holds.
DIRECTION = {
    "setup_s": "lower", "setup_cold_s": "lower", "ops_per_s": "higher",
    "failed_ratio": "lower", "rss_peak_mb": "lower",
    "op_ms_p50": "lower", "op_ms_p95": "lower",
    "get_ms_p50": "lower", "get_ms_p95": "lower", "scan_ms_p50": "lower",
    "agg_ms_p50": "lower", "write_ms_p50": "lower", "write_ms_p95": "lower",
    "maint_ms_p50": "lower", "job_ms_p50": "lower",
    "search_ms_p50": "lower", "search_ms_p95": "lower",
    "search_recall_at_10": "higher", "stored_bytes_per_user_byte": "lower",
}
DEFAULT_BOUND = 0.1


def load(directory):
    runs = {}
    for path in glob.glob(os.path.join(directory, "report-*-0.json")):
        with open(path) as fh:
            r = json.load(fh)
        runs[(r["workload"], r["seed"])] = {k: v["value"] for k, v in r["end_to_end"].items()}
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(parent, change, spec):
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    for name, (_, better) in bounds.items():
        if DIRECTION.get(name, better) != better:
            sys.exit(f"{name}: BENCHMARK.json says {better} is better, compare.py the opposite")
    pairs = sorted(set(parent) & set(change))
    if not pairs:
        sys.exit("no (workload, seed) pair is present in both result sets")
    verdicts = []
    for w in sorted({p[0] for p in pairs}):
        seeds = [s for (x, s) in pairs if x == w]
        names = sorted(set.intersection(*(set(parent[(w, s)]) & set(change[(w, s)]) for s in seeds)))
        print(f"\n{w}: {len(seeds)} pairs")
        print(f"  {'metric':28s} {'parent median [q1, q3]':>34s} {'change median [q1, q3]':>34s}"
              f" {'wins':>5s} verdict")
        for name in names:
            if name not in bounds and name not in DIRECTION:
                sys.exit(f"{name}: no known direction; add it to DIRECTION")
            bound, better = bounds.get(name, (DEFAULT_BOUND, DIRECTION.get(name)))
            pv = [parent[(w, s)][name] for s in seeds]
            cv = [change[(w, s)][name] for s in seeds]
            sign = 1 if better == "higher" else -1
            wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) > 0)
            losses = sum(1 for a, b in zip(pv, cv) if sign * (b - a) < 0)
            pq1, pmed, pq3 = quartiles(pv)
            cq1, cmed, cq3 = quartiles(cv)
            worse = sign * (pmed - cmed) / abs(pmed) if pmed else 0.0
            parent_spread = (pq3 - pq1) / abs(pmed) if pmed else 0.0
            all_better = all(sign * (b - a) > 0 for b in cv for a in pv)
            if worse > bound:
                verdict = "regression"
            elif parent_spread > bound and not all_better:
                verdict = "unresolved"
            elif wins >= 0.9 * len(seeds) and abs(cmed - pmed) > (pq3 - pq1):
                verdict = "gain"
            else:
                verdict = "same"
            verdicts.append(verdict)
            print(f"  {name:28s} {pmed:12.4f} [{pq1:9.4f},{pq3:9.4f}] {cmed:12.4f} [{cq1:9.4f},{cq3:9.4f}]"
                  f" {wins:2d}/{len(seeds):<2d} {verdict} (losses {losses}, bound {bound})")
    return verdicts


def run_alternating(parent_root, change_root, workloads, seeds, seconds):
    for i, seed in enumerate(seeds):
        order = (parent_root, change_root) if i % 2 == 0 else (change_root, parent_root)
        for w in workloads:
            for root in order:
                proc = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                                       "--workload", w, "--seed", str(seed), "--seconds",
                                       str(seconds), "--trace", "0"], cwd=root,
                                      stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                if proc.returncode != 0:
                    sys.exit(f"{root}: {w} seed {seed} failed with code {proc.returncode}")
                print(f"{os.path.basename(os.path.abspath(root))} {w} seed {seed}: "
                      f"{proc.stdout.strip().splitlines()[-1]}", flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--run", action="store_true", help="run both checkouts first")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    parent, change = args.parent, args.change
    if args.run:
        lo, _, hi = args.seeds.partition("-")
        seeds = list(range(int(lo), int(hi or lo) + 1))
        workloads = (args.workloads.split(",") if args.workloads
                     else [w["name"] for w in spec["workloads"]])
        run_alternating(parent, change, workloads, seeds, spec["run_seconds"])
        parent, change = os.path.join(parent, ".bench_build"), os.path.join(change, ".bench_build")
    verdicts = compare(load(parent), load(change), spec)
    print(f"\n{verdicts.count('regression')} regressions, {verdicts.count('unresolved')} unresolved, "
          f"{verdicts.count('gain')} gains, {verdicts.count('same')} same")
    sys.exit(1 if "regression" in verdicts else 0)


if __name__ == "__main__":
    main()
