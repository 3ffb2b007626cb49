#!/usr/bin/env python3
"""A/B the benchmark: this checkout (the change) against a parent revision.

    python3 scripts/perfbench_ab.py --parent <rev> --workload <w> --pairs N
        [--seed S] [--trace 0|1] [--warmup 1] [--out file.json]

Run from the root of a checkout. The committed files of <rev> are unpacked
with `git archive` into a temporary directory (no worktree is registered,
so an interrupted run leaves nothing behind in the repository). Each side
runs the benchmark command of BENCHMARK.json from its own root, so each
builds and times its own program with identical benchmark settings.

Pair i runs seed S+i on both sides; odd pairs run the parent first, even
pairs the change, so drift of the machine hits both sides alike. After one
unreported warm-up run per side, every run's metrics are printed as they
arrive. The summary gives, per metric, each side's median and quartiles,
the share of pairs the change wins (ties count for neither side), and:

  - claim: the change wins at least 9/10 of the pairs and the medians
    differ by more than the parent's quartile spread;
  - regression (end-to-end metrics, --trace 0): the change's median is
    worse than the parent's by more than the metric's bound; where the
    parent's spread exceeds the bound the metric is unresolved, unless
    every change run beats every parent run.

--trace 1 compares the per-layer metrics of traced runs instead.

When the runs dealt different numbers of ops (a `serve` run deals whole
44-request decks, so it attempts 44 or 88), the summary also gives each
side's median of every metric per deck size.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def run_once(spec, root, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        print(p.stderr[-3000:], file=sys.stderr)
        sys.exit(f"{root}: {workload} seed {seed} exited with {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    return res


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return q1, q3


def summarize(better, bound, parent, change):
    """One metric's verdict from paired values (parent[i], change[i])."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pm, cm = statistics.median(parent), statistics.median(change)
    pq1, pq3 = quartiles(parent)
    cq1, cq3 = quartiles(change)
    iqr = pq3 - pq1
    out = {"better": better, "parent": {"median": pm, "q1": pq1, "q3": pq3},
           "change": {"median": cm, "q1": cq1, "q3": cq3},
           "wins": wins, "pairs": len(parent),
           "delta": (cm - pm) / pm if pm else None,
           "claim": wins >= 0.9 * len(parent) and sign * (pm - cm) > iqr}
    if bound is not None:
        worse = sign * (cm - pm) / pm if pm else 0.0
        spread = iqr / pm if pm else float("inf")
        all_better = all(sign * (p - c) > 0 for p in parent for c in change)
        if worse > bound:
            out["regression"] = "REGRESSION"
        elif spread > bound and not all_better:
            out["regression"] = "unresolved"
        else:
            out["regression"] = "ok"
    return out


def by_deck(runs, names):
    """Per deck size (`attempted`), each side's run count and median of
    every metric in `names`."""
    decks = sorted({r["attempted"] for side in runs.values() for r in side})
    out = {}
    for d in decks:
        out[str(d)] = {}
        for side, rs in runs.items():
            rs = [r for r in rs if r["attempted"] == d]
            out[str(d)][side] = {"runs": len(rs), "median": {
                n: statistics.median(r["metrics"][n]["value"] for r in rs)
                for n in names if rs and all(n in r["metrics"] for r in rs)}}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=1,
                    help="unreported runs per side first (a run right after a build is slow)")
    ap.add_argument("--out", default="", help="also write every run and the summary as JSON")
    a = ap.parse_args()

    change_root = os.getcwd()
    with open(os.path.join(change_root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    rev = subprocess.run(["git", "rev-parse", "--verify", a.parent + "^{commit}"],
                         capture_output=True, text=True, check=True).stdout.strip()
    parent_root = tempfile.mkdtemp(prefix="perfbench_ab_")
    try:
        archive = subprocess.Popen(["git", "archive", rev], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", parent_root], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
        roots = {"parent": parent_root, "change": change_root}
        print(f"parent {rev[:12]} in {parent_root}; change in {change_root}", flush=True)
        for side, root in roots.items():
            for i in range(a.warmup):
                run_once(spec, root, a.workload, 1000 + i, a.trace)
                print(f"warm-up {side} done", flush=True)
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run_once(spec, roots[side], a.workload, seed, a.trace)
                res["seed"] = seed
                runs[side].append(res)
                print(f"pair {i + 1} {side:6s} seed={seed} wall={res['wall_s']:.1f}s "
                      f"attempted={res['attempted']} failed={res['failed']} " +
                      " ".join(f"{k}={v['value']:.4g}"
                               for k, v in sorted(res["metrics"].items())), flush=True)
    finally:
        shutil.rmtree(parent_root, ignore_errors=True)

    if a.trace:
        metrics = {m["name"]: (m["better"], None) for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    summary = {}
    print(f"\n{a.workload}: {a.pairs} pairs, parent {rev[:12]} vs change; "
          f"failed/attempted parent {sum(r['failed'] for r in runs['parent'])}/"
          f"{sum(r['attempted'] for r in runs['parent'])}, change "
          f"{sum(r['failed'] for r in runs['change'])}/"
          f"{sum(r['attempted'] for r in runs['change'])}")
    print(f"{'metric':28s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s} "
          f"{'delta':>7s} {'wins':>6s} claim regression")
    for name, (better, bound) in metrics.items():
        if not all(name in r["metrics"] for s in runs.values() for r in s):
            continue
        vals = {s: [r["metrics"][name]["value"] for r in runs[s]] for s in runs}
        v = summarize(better, bound, vals["parent"], vals["change"])
        summary[name] = v
        fmt = lambda d: f"{d['median']:.4g} [{d['q1']:.4g}, {d['q3']:.4g}]"
        print(f"{name:28s} {fmt(v['parent']):>30s} {fmt(v['change']):>30s} "
              f"{'n/a' if v['delta'] is None else format(v['delta'], '+.1%'):>7s} "
              f"{v['wins']:>3d}/{v['pairs']:<2d} "
              f"{'yes' if v['claim'] else 'no ':5s} {v.get('regression', '')}")
    decks = by_deck(runs, list(summary))
    if len(decks) > 1:
        print("\nper deck: median, parent (runs) -> change (runs)")
        for d, sides in decks.items():
            p, c = sides["parent"], sides["change"]
            print(f"  {d} ops: parent {p['runs']} runs, change {c['runs']} runs")
            for name in summary:
                fmt = lambda s: f"{s['median'][name]:.4g}" if name in s["median"] else "-"
                print(f"    {name:26s} {fmt(p):>10s} -> {fmt(c):<10s}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"parent": rev, "workload": a.workload, "trace": a.trace,
                       "runs": runs, "summary": summary, "by_deck": decks},
                      fh, indent=1)


if __name__ == "__main__":
    main()
