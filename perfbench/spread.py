#!/usr/bin/env python3
"""Check that the benchmark is steady: run each workload with several seeds
and report, per end-to-end metric, the median and the spread (the distance
between the first and third quartile as a share of the median, as
statistics.quantiles(values, n=4) gives them) against the metric's bound.

    python3 perfbench/spread.py [--runs 10] [--workloads a,b] [--out file.json]

Run from the root of a checkout. Seeds are 1..runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default="")
    ap.add_argument("--warmup", type=int, default=1,
                    help="unreported runs first (the first run after a build is slow)")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    ok = True
    for w in names:
        for seed in range(a.warmup):
            subprocess.run(spec["command"] + ["--workload", w, "--seed", str(1000 + seed),
                                              "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           capture_output=True, text=True)
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                sys.exit(f"{w} seed {seed}: exit code {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, **res})
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                  flush=True)
        summary = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            steady = m == "setup_s" or spread < bound / 3
            ok &= steady
            summary[m] = {"median": med, "spread": spread, "bound": bound, "steady": steady}
            print(f"  {w} {m:18s} median={med:10.4g} spread={spread:6.3f} "
                  f"bound/3={bound / 3:6.3f} {'ok' if steady else 'NOT STEADY'}")
        report[w] = {"summary": summary, "runs": runs,
                     "mean_wall_s": statistics.mean(r["wall_s"] for r in runs)}
        print(f"  {w} mean wall per run: {report[w]['mean_wall_s']:.1f} s", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
