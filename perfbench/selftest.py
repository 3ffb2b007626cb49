#!/usr/bin/env python3
"""Self-test of the benchmark, on the small sf0.001 corpus.

    python3 perfbench/selftest.py

Run from the root of a checkout. It checks that:
  - every workload runs briefly, with the engine-side input fingerprints
    checked too, and prints every end-to-end metric (--trace 0) and every
    per-layer metric (--trace 1) with its unit;
  - a corrupted golden fingerprint is reported as a failed op, so the
    output check cannot pass by default;
  - a corpus whose files differ from their recorded digests is refused;
  - a directory holding only the benchmark (no program sources) fails
    without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

DATA = "perfbench/data/sf0.001"
GOLDEN = "perfbench/golden/sf0.001"
SCRATCH = ".bench_build/perfbench/selftest"


def run(workload, trace, golden=GOLDEN, cwd=".", extra=()):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), "--data", DATA,
           "--golden", golden, *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)


def result(p):
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    return cond


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ok = True
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(w, trace, extra=("--check-inputs", "1"))
            r = result(p)
            ok &= check(p.returncode == 0 and r is not None,
                        f"{w} --trace {trace} exits 0 with a result")
            if r is None:
                print(p.stderr[-2000:])
                continue
            ok &= check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                        f"{w} --trace {trace}: {r['attempted']} ops, {r['failed']} failed")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            ok &= check(got == want, f"{w} --trace {trace} prints every {key} metric with its unit")

    # a corrupted golden fingerprint must surface as failed ops
    shutil.rmtree(SCRATCH, ignore_errors=True)
    bad_golden = os.path.join(SCRATCH, "golden")
    shutil.copytree(GOLDEN, bad_golden)
    path = os.path.join(bad_golden, "catalog.tsv")
    with open(os.path.join(GOLDEN, "catalog_queries.txt")) as fh:
        first = next(l.strip() for l in fh if l.strip() and not l.startswith("#"))
    with open(path) as fh:
        lines = fh.read().splitlines()
    for i, l in enumerate(lines):
        name, kind, fp = l.split("\t")
        if name == first:
            rows, h = fp.split(":")
            lines[i] = f"{name}\t{kind}\t{rows}:{int(h) + 1}"
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    r = result(run("catalog", 0, golden=bad_golden))
    ok &= check(r is not None and not r["correct"] and r["failed"] >= 1,
                f"a corrupted golden fingerprint of {first} is reported as failed ops")

    # a changed corpus must be refused before anything is timed
    with open(os.path.join(bad_golden, "inputs.tsv")) as fh:
        rows = [l.split("\t") for l in fh.read().splitlines()]
    rows[0][2] = "0" * 64
    with open(os.path.join(bad_golden, "inputs.tsv"), "w") as fh:
        fh.write("\n".join("\t".join(x) for x in rows) + "\n")
    p = run("catalog", 0, golden=bad_golden)
    ok &= check(p.returncode != 0 and result(p) is None,
                "a corpus that differs from its recorded digests is refused")

    # without the program's sources the benchmark must fail, not report
    bare = os.path.join(SCRATCH, "bare")
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for path in spec["paths"]:
        shutil.copytree(path, os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("target", ".bsp"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "catalog",
                        "--seed", "1", "--seconds", "2", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    ok &= check(p.returncode != 0 and result(p) is None,
                "a directory with only the benchmark fails without a result")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
