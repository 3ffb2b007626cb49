#!/usr/bin/env python3
"""Split the CPU samples of QueryServer's handler threads by cost.

    jfr print --json --stack-depth 512 --events jdk.ExecutionSample rec.jfr > s.json
    python3 scripts/jfr_buckets.py s.json

Reads the JSON of a JFR recording made with `settings=profile` and keeps
the samples of the threads named `graft-query-server-*`. Each sample goes
to the first bucket, in the order below, that one of its frames matches; a
sample that matches none is "other". Prints the sample count and share of
each bucket.
"""
import collections
import json
import re
import sys

# (bucket, regex on "class.method"), in priority order: a sample goes to the
# first bucket any of its frames matches, so a cost nested in another (a
# closure cleaned while a job is submitted, the optimizer run by adaptive
# planning) counts as the inner cost
BUCKETS = [
    ("ClosureCleaner", r"org\.apache\.spark\.util\.ClosureCleaner"),
    ("explain string", r"org\.apache\.spark\.sql\.execution\.ExplainUtils|QueryExecution\.explainString"),
    ("codegen", r"org\.codehaus\.janino|expressions\.codegen\.CodeGenerator"),
    ("Tables.load", r"graft\.core\.Tables"),
    ("optimization", r"catalyst\.optimizer\.|QueryExecution\.\$anonfun\$lazyOptimizedPlan"),
    ("analysis", r"catalyst\.analysis\.|QueryExecution\.\$anonfun\$lazyAnalyzed"),
    ("cache lookup", r"execution\.CacheManager"),
    ("planning", r"execution\.SparkStrategies|catalyst\.planning\.|execution\.adaptive\.|"
                 r"QueryExecution\$\.prepareForExecution|QueryExecution\.\$anonfun\$lazy(SparkPlan|ExecutedPlan)"),
    ("job submission", r"org\.apache\.spark\.scheduler\.|SparkContext\.runJob"),
    ("lang front-end", r"^graft\.lang\."),
]


def bucket(frames):
    names = [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
             for f in frames]
    for b, pattern in BUCKETS:
        if any(re.search(pattern, n) for n in names):
            return b
    # every handler stack starts in the JDK server; it is the cost only in
    # the frames the innermost graft frame called (writing a reply), or
    # when no graft frame is on the stack (reading a request)
    inner = next((i for i, n in enumerate(names) if n.startswith("graft.")), len(names))
    if any(n.startswith("sun.net.httpserver.") for n in names[:inner]):
        return "HTTP"
    return "other"


def main(path):
    events = json.load(open(path))["recording"]["events"]
    count = collections.Counter()
    for e in events:
        thread = (e["values"].get("sampledThread") or {}).get("javaName") or ""
        if thread.startswith("graft-query-server-"):
            count[bucket(e["values"]["stackTrace"]["frames"])] += 1
    total = sum(count.values())
    print(f"{total} handler-thread samples")
    for b, n in count.most_common():
        print(f"{n:6d}  {100 * n / max(total, 1):5.1f}%  {b}")


if __name__ == "__main__":
    main(sys.argv[1])
