#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program with the
repository's own sbt build, then the harness in perfbench/harness against
it; later runs reuse both while the sources are unchanged. Build outputs,
Spark scratch space and traces go to .bench_build/ in the checkout.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
WORKLOADS = ("catalog", "serve")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    """Hash of every input of the two builds, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            f"{BENCH}/harness/build.sbt", f"{BENCH}/harness/project/build.properties",
            f"{BENCH}/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_classpath(cwd, env, log):
    """Compile the sbt project in `cwd` and return its runtime classpath."""
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=cwd, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                           stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed in {cwd}; see {log}")
    return lines[-1]


def build(root, state):
    stamp = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    program_cp = sbt_classpath(root, env, os.path.join(state, "build-program.log"))
    env["PERFBENCH_PROGRAM_CP"] = program_cp
    cp = sbt_classpath(os.path.join(root, BENCH, "harness"), env,
                       os.path.join(state, "build-harness.log"))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def table_digest(data, table):
    """sha256 of a table's files, as perfbench.Inputs.fileDigest computes it."""
    root = os.path.join(data, f"{table}.parquet")
    files = [root] if os.path.isfile(root) else [
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
    h = hashlib.sha256()
    for rel, f in sorted((os.path.relpath(f, data), f) for f in files):
        h.update(rel.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def check_inputs(data, golden):
    """Refuse to time a corpus whose files differ from the recorded ones."""
    with open(os.path.join(golden, "inputs.tsv")) as fh:
        want = dict((l.split("\t")[0], l.split("\t")[2].strip()) for l in fh if l.strip())
    got = {t: table_digest(data, t) for t in want}
    extra = sorted(f for f in os.listdir(data) if f.removesuffix(".parquet") not in want)
    bad = sorted(t for t in want if got[t] != want[t])
    if bad or extra:
        fail(f"input corpus {data} differs from {golden}/inputs.tsv "
             f"(changed: {bad}, unexpected: {extra}); refusing to time")


def java_cmd(root, state, cp, main, args):
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args)


def run_jvm(cmd, root):
    """Run the harness JVM; return its stdout lines. Kills it on timeout."""
    env = dict(os.environ)
    # Spark prefers this variable to spark.local.dir; keep scratch in the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, ".bench_build", BENCH, "spark-local")
    p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True, env=env,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"harness did not finish within {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        fail(f"harness exited with code {p.returncode}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=f"{BENCH}/data/sf0.01",
                    help="corpus directory (the self-test uses a smaller one)")
    ap.add_argument("--golden", default=f"{BENCH}/golden/sf0.01",
                    help="directory of the corpus's golden fingerprints")
    ap.add_argument("--check-inputs", type=int, choices=(0, 1), default=0,
                    help="also compare the engine's view of every table")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", f"{BENCH}/harness/build.sbt",
                 a.data, a.golden):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    state = os.path.join(root, ".bench_build", BENCH)
    os.makedirs(state, exist_ok=True)
    check_inputs(a.data, a.golden)
    cp = build(root, state)
    lines = run_jvm(java_cmd(root, state, cp, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        # absolute: the streaming queries symlink corpus files, and a
        # relative link target would dangle
        "--data", os.path.abspath(a.data), "--golden", os.path.abspath(a.golden),
        "--state", state,
        "--check-inputs", str(a.check_inputs)]), root)
    result = [l for l in lines if l.startswith("{")]
    if not result:
        fail("harness printed no result")
    for l in lines:
        if l is not result[-1]:
            print(l, file=sys.stderr)
    json.loads(result[-1])
    print(result[-1])


if __name__ == "__main__":
    main()
