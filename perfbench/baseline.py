#!/usr/bin/env python3
"""Runs the benchmark over many seeds and writes a baseline artifact:
for every workload and end-to-end metric the ten values, median,
quartiles and spread (quartile distance over median) beside the bound
in BENCHMARK.json, plus one traced run's per-layer table per workload
and the box stamp (cores, heap, calibration) of every run.

Usage (from the repository root):
  python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline/box.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    """One benchmark run: (result line, artifact)."""
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".bench_build", "results",
                        f"{workload}-s{seed}-t{trace}.json")
    with open(path) as f:
        return line, json.load(f)


def summary(values, bound):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med, "bound": bound}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = ([w for w in args.workloads.split(",") if w]
             or [w["name"] for w in spec["workloads"]])
    out = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for s in seeds(args.seeds):
            line, art = run(w, s, spec["run_seconds"], 0)
            runs.append({"seed": s, "line": line, "cores": art["cores"],
                         "heap_max_mb": art["heap_max_mb"],
                         "calibration": art["calibration"],
                         "inputs": art["inputs"], "oracle": art["oracle"],
                         **{k: art[k] for k in ("cycle_summary",) if k in art}})
            print(f"{w} seed {s}: {json.dumps(line)}", file=sys.stderr)
        metrics = {m["name"]: summary(
            [r["line"]["metrics"][m["name"]]["value"] for r in runs], m["bound"])
            for m in spec["end_to_end"]}
        _, traced = run(w, seeds(args.seeds)[0], spec["run_seconds"], 1)
        out["workloads"][w] = {
            "metrics": metrics,
            "all_correct": all(r["line"]["correct"] for r in runs),
            "failed": sum(r["line"]["failed"] for r in runs),
            "attempted": sum(r["line"]["attempted"] for r in runs),
            "runs": runs,
            "traced": {"seed": traced["seed"], "correct": traced["correct"],
                       "metrics": {k: v["value"]
                                   for k, v in traced["metrics"].items()}}}
        for n, m in metrics.items():
            print(f"{w:14s} {n:20s} median {m['median']:10.4f} "
                  f"spread {m['spread']:.4f} bound {m['bound']}",
                  file=sys.stderr)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
