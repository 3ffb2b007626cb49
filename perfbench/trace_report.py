#!/usr/bin/env python3
"""Write the traced-run report, perfbench/TRACE_REPORT.md.

    python3 perfbench/trace_report.py [--seeds 1,2,3] [--out perfbench/TRACE_REPORT.md]

For every workload and seed it makes one untraced run (--trace 0) and one
traced run (--trace 1), and reports per workload the medians over seeds of
every per-layer metric, the unattributed share of op wall time, and the
tracing overhead: the traced runs' median op latency against the untraced
runs' (geometric mean of op latency). Run from the root of a checkout.
"""
import argparse
import json
import platform
import statistics
import subprocess
import sys


def run(spec, workload, seed, trace):
    p = subprocess.run(spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)],
        capture_output=True, text=True)
    if p.returncode != 0:
        print(p.stderr[-3000:], file=sys.stderr)
        sys.exit(f"{workload} seed {seed} trace {trace}: exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--out", default="perfbench/TRACE_REPORT.md")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seeds = [int(s) for s in a.seeds.split(",")]
    workloads = [w["name"] for w in spec["workloads"]]
    layers = [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    med, overhead, fails = {}, {}, {}
    for w in workloads:
        plain = [run(spec, w, s, 0) for s in seeds]
        traced = [run(spec, w, s, 1) for s in seeds]
        med[w] = {m: statistics.median(r["metrics"][m]["value"] for r in traced) for m in layers}
        p50 = statistics.median(r["metrics"]["op_gmean_ms"]["value"] for r in plain)
        tp50 = med[w]["harness.traced_op_gmean_ms"]
        overhead[w] = (p50, tp50, tp50 / p50 - 1 if p50 else 0.0)
        fails[w] = (sum(r["failed"] for r in plain + traced), sum(r["attempted"] for r in plain + traced))
        print(f"{w}: untraced op gmean {p50:.1f} ms, traced {tp50:.1f} ms", flush=True)

    out = ["# Traced-run report", "",
           "Written by `perfbench/trace_report.py` "
           f"(seeds {a.seeds}; --seconds {spec['run_seconds']}, so one round or deck per run; "
           f"{platform.machine()}, {__import__('os').cpu_count()} cores). "
           "Every value is the median over the seeds of the traced runs and, "
           "unless its unit says otherwise, is per timed op. Self time is a "
           "span's duration minus the part its child spans cover; engine "
           "layers (`catalyst`, `exec`, `streaming.batch*`) come from Spark's "
           "listeners and overlap the spans that start them.", "",
           "## Tracing overhead and failures", "",
           "| workload | untraced op gmean (ms) | traced op gmean (ms) | overhead | failed / attempted |",
           "| --- | ---: | ---: | ---: | ---: |"]
    for w in workloads:
        p50, tp50, o = overhead[w]
        out.append(f"| {w} | {p50:.1f} | {tp50:.1f} | {o * 100:+.1f}% | {fails[w][0]} / {fails[w][1]} |")
    out += ["", "## Per-layer metrics", "",
            "| metric | unit | " + " | ".join(workloads) + " |",
            "| --- | --- | " + " | ".join("---:" for _ in workloads) + " |"]
    for m in layers:
        out.append(f"| `{m}` | {units[m]} | " +
                   " | ".join(f"{med[w][m]:.4g}" for w in workloads) + " |")
    with open(a.out, "w") as fh:
        fh.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
