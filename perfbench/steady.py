#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed on one commit and
report, for every end-to-end metric, its run-to-run spread (the distance
between the first and third quartile as a share of the median) next to
the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--record FILE]

Run from the root of a checkout. Every metric of the full report is
measured (also those BENCHMARK.json does not gate on); --record writes the
table as JSON. A gated metric whose spread exceeds a third of its bound is
flagged, and any metric whose spread exceeds 0.1 is listed as one that
does not repeat within a tenth.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        return q1, q2, q3, 0.0 if q1 == q3 else float("inf")
    return q1, q2, q3, (q3 - q1) / q2


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--record")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in args.workloads.split(","):
        values, wall = {}, []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                   "--trace", "0"], stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            wall.append(time.time() - t0)
            if proc.returncode != 0:
                sys.exit(f"{w} seed {seed}: run failed with code {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                sys.exit(f"{w} seed {seed}: {result['failed']} failed ops")
            with open(os.path.join(".bench_build", f"report-{w}-{seed}-0.json")) as fh:
                report = json.load(fh)
            for name, m in report["end_to_end"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: {wall[-1]:.0f}s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(result["metrics"].items())), flush=True)
        rows = {}
        for name, vs in sorted(values.items()):
            if len(vs) < 2:
                continue
            q1, med, q3, s = spread(vs)
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": s, "runs": len(vs),
                          "bound": bounds.get(name)}
            flag = ""
            if name in bounds and s > bounds[name] / 3:
                flag = "  > bound/3"
            elif s > 0.1:
                flag = "  (does not repeat within 0.1)"
            print(f"  {w:16s} {name:28s} median {med:12.4f} spread {s:7.4f}"
                  f" bound {bounds.get(name, '-')}{flag}")
        out["workloads"][w] = {"metrics": rows, "run_wall_s": statistics.median(wall)}
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
