#!/usr/bin/env bash
# The per-round validation ritual, in one command (dev-harness only).
# Runs, in order, FAILING LOUDLY per step (pipefail + explicit gates —
# a broken round must exit non-zero, not print a green summary):
#   1. sbt test                       (unit + plan-guard + differential)
#   2. 1200-seed extended sweep       (GRAFT_SWEEP=1, ExtendedSweepSpec)
#   3. full oracle correctness sf0.01 (Verify + DuckDB compare)
#   4. full oracle correctness sf0.1 AND on the 9x corpus (the scale
#      gates — correctness at scale catches what bench alone cannot:
#      silently wrong results don't fail a bench; r12 caught 3 this way),
#      plus 27x full, the 81x overflow spot set, and the zipf-skew spot
#      set (salted join/groupBy families hash-exact on a hot-key corpus)
#   5. bench sf0.1                    (committed as BENCH_r{N}_sf01.json)
#   6. 9x scale bench + linearity     (committed as BENCH_r{N}_sf1.json +
#                                      LINEARITY_r{N}.txt)
#   7. 27x bench on the top slow queries + two-point growth-exponent fit
#      (committed as GROWTH_r{N}.txt — one scale point cannot tell linear
#      from quadratic-with-small-coefficient)
#   8. FINAL GATE: refuse to bless a dirty or unre-tested tree. The tree
#      must be committed (git status clean), and if HEAD moved or the tree
#      was dirty when step 1 ran, the full test suite re-runs against HEAD
#      (r13 shipped red because a post-ritual source commit skipped this).
# Scale corpora, written under the repo root (regenerate once per data regeneration):
#   SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 testdata_sf1 9"
#   SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 testdata_27x 27"
#   SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 testdata_81x 81"
#   SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 testdata_skew9x 9 --zipf"
#   SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.01 testdata_docskew9x 9 --docskew"
#   SPARK_GRAFT_CPUS=16 sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.01 testdata_docskew27x 27 --docskew"
# Usage: scripts/round_ritual.sh [fast] [roundN]
#   "fast" skips steps 4-7; roundN (e.g. 13) names the committed artifacts.
set -uo pipefail
cd "$(dirname "$0")/.."
FAST="${1:-}"
ROUND="${2:-}"
status=0
step() { echo; echo "=== $1 ==="; }
gate() { # gate <label>: mark the round failed
  echo "STEP FAILED: $1"; status=1
}

# Snapshot the tree identity step 1 tests, so step 8 can tell whether the
# suite that passed is the suite at HEAD.
START_HEAD=$(git rev-parse HEAD)
START_DIRTY=$(git status --porcelain | wc -l)

step "1/8 sbt test"
out=$(sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2)
echo "$out"
echo "$out" | grep -q "failed 0" || gate "sbt test"

step "2/8 extended sweep (1200 seeds)"
out=$(GRAFT_SWEEP=1 sbt -batch "testOnly graft.ExtendedSweepSpec" 2>&1 |
  grep -E "seeds|Tests:" | tail -3)
echo "$out"
echo "$out" | grep -q "failed 0" || gate "extended sweep"

run_verify() { # run_verify <sfDir> <outDir> <label> [logFile]
  # logFile (r17): capture the Verify run's output so scale legs can
  # ASSERT which adaptive branch ran ([graft-dedup-cap] lines), not
  # infer it — a probe-threshold bug would otherwise silently pessimize
  # every scale leg (r16 directive 7)
  local log="${4:-/dev/null}"
  if ! sbt -batch "runMain graft.Verify $1 $2" >"$log" 2>&1; then
    gate "$3 (Verify crashed)"; return
  fi
  local line
  line=$(python3 scripts/oracle_check.py "$1" "$2" | tail -1)
  echo "$line"
  echo "$line" | grep -q "^PASS" || gate "$3"
}

# assert_cap_branch <logFile> <expected: streaming|recovery> <label>
assert_cap_branch() {
  local got
  got=$(grep -o "path=[a-z]*" "$1" 2>/dev/null | sort -u | tr '\n' ' ')
  echo "$3 dedup-cap branch: ${got:-none captured}"
  if ! grep -q "graft-dedup-cap" "$1" 2>/dev/null; then
    gate "$3 dedup-cap branch (no probe line captured)"
  elif grep "graft-dedup-cap" "$1" | grep -qv "path=$2"; then
    gate "$3 dedup-cap branch (expected only path=$2)"
  fi
}

step "3/8 oracle correctness sf0.01"
run_verify /root/testdata/sf0.01 /tmp/ritual_v001 "oracle sf0.01"

if [ "$FAST" != "fast" ]; then
  step "4/8 oracle correctness sf0.1 + 9x + 27x"
  SPARK_GRAFT_CPUS=16 run_verify /root/testdata/sf0.1 /tmp/ritual_v01 \
    "oracle sf0.1"
  if [ -d testdata_sf1 ]; then
    SPARK_GRAFT_CPUS=16 run_verify testdata_sf1 /tmp/ritual_v9x \
      "oracle 9x"
  else
    echo "testdata_sf1 missing — run graft.tools.ScaleUp first"
    gate "oracle 9x (no data)"
  fi
  # the 27x oracle run is what caught the r13 int64-sum scale bugs —
  # it is a gate, not a spot check. Full 199 queries against DuckDB.
  if [ -d testdata_27x ]; then
    SPARK_GRAFT_CPUS=16 run_verify testdata_27x /tmp/ritual_v27x \
      "oracle 27x" /tmp/ritual_v27x.log
    # the uniform 27x corpus must take the ZERO-recovery streaming path —
    # paying recovery anyway measured 2-3x on the jaccard family (r16)
    assert_cap_branch /tmp/ritual_v27x.log streaming "27x"
    [ -n "$ROUND" ] && [ -f /tmp/ritual_v27x/summary.json ] &&
      cp /tmp/ritual_v27x/summary.json "CORRECTNESS_r${ROUND}_27x.json"
  else
    echo "testdata_27x missing — run graft.tools.ScaleUp first"
    gate "oracle 27x (no data)"
  fi
  # 81x SPOT gate (r14 overflow audit): the exact-string, key-sum-growth
  # and wrap-bounded sets — the columns whose int64 crossings the audit
  # measured nearest — must stay hash-exact at the harness's largest
  # corpus. Full list + rationale: OVERFLOW_r14.txt, README "Oracle-sum
  # overflow audit".
  OVERFLOW_SET="q_lang_corr_agg,q_lang_corr_flatmap,q_lang_corr_gate,\
q_lang_corr_jbind,q_lang_corr_jsrc,q_lang_corr_legbind,\
q_lang_corr_nonequi,q_lang_corr_nested,q_lang_corr_filter,\
q_lang_corr_filter_big,q_lang_corr_zip,q_lang_corr_widen,\
q_lang_corr_rangekey,q_rollup,q_schema_evolution,\
q_sql_funcs,q_csv_roundtrip,q_jsonl_roundtrip,q_orc_roundtrip,\
q_word_ops,q_word_ops32,q_lang_bignum,q_lang_wide_sum,q_survey_rollup,\
q_argmax_group,q_sort_word_unsigned"
  # r16 (r15 directive 2): the five queries whose RUNTIME bent on the
  # 27x->81x leg join the 81x spot set — correctness proven at the scale
  # where the perf anomaly lived.
  TAIL_SET="q_pipeline_sink,q_pipeline_clean,q_pipeline_full,\
q_dedup_clusters,q_dedup_ngram_jaccard"
  SPOT81="$OVERFLOW_SET,$TAIL_SET"
  if [ -d testdata_81x ]; then
    if SPARK_GRAFT_CPUS=16 SPARK_GRAFT_ONLY="$SPOT81" \
         sbt -batch "runMain graft.Verify testdata_81x /tmp/ritual_v81x" \
         >/dev/null 2>&1; then
      line=$(GRAFT_ORACLE_ONLY="$SPOT81" python3 \
        scripts/oracle_check.py testdata_81x /tmp/ritual_v81x |
        tail -1)
      echo "81x spot: $line"
      if echo "$line" | grep -q "^PASS"; then
        [ -n "$ROUND" ] && [ -f /tmp/ritual_v81x/summary.json ] &&
          cp /tmp/ritual_v81x/summary.json "CORRECTNESS_r${ROUND}_81x.json"
      else
        gate "oracle 81x spot"
      fi
    else
      gate "oracle 81x spot (Verify crashed)"
    fi
  else
    echo "testdata_81x missing — run graft.tools.ScaleUp first"
    gate "oracle 81x spot (no data)"
  fi
  # skew SPOT gate (r15, r14 directive 4): the salted-join/groupBy
  # families must stay hash-exact on the zipf-headed corpus — the one
  # corpus where a broken skew mitigation changes ANSWERS (dropped or
  # double-counted hot-key rows), not just timings.
  SKEW_SET="q1_agg,q_agg_sum_count,q_bloom_join,q_family_2hop,\
q_groupby_bags,q_salted_join"
  if [ -d testdata_skew9x ]; then
    if SPARK_GRAFT_CPUS=16 SPARK_GRAFT_ONLY="$SKEW_SET" \
         sbt -batch "runMain graft.Verify testdata_skew9x /tmp/ritual_vskew" \
         >/dev/null 2>&1; then
      line=$(GRAFT_ORACLE_ONLY="$SKEW_SET" python3 \
        scripts/oracle_check.py testdata_skew9x /tmp/ritual_vskew |
        tail -1)
      echo "skew spot: $line"
      if echo "$line" | grep -q "^PASS"; then
        [ -n "$ROUND" ] && [ -f /tmp/ritual_vskew/summary.json ] &&
          cp /tmp/ritual_vskew/summary.json "CORRECTNESS_r${ROUND}_skew.json"
      else
        gate "oracle skew spot"
      fi
    else
      gate "oracle skew spot (Verify crashed)"
    fi
  else
    echo "testdata_skew9x missing — run ScaleUp --zipf first"
    gate "oracle skew spot (no data)"
  fi
  # doc-skew SPOT gate (r16, r15 directive 4): the text operators' own
  # skew axis — a boilerplate shingle in half the docs (orders of
  # magnitude past Dedup.maxShingleDocFreq) plus 20% bit-exact
  # duplicates straddling it. The probe asserts the cap actually FIRED
  # on this corpus; the oracle then proves capped answers stay exact
  # (jaccardPairs' hot-membership recovery). Base is sf0.01: the DuckDB
  # oracle replays the shingle join UNCAPPED, so the hot posting must
  # stay small enough to enumerate.
  DOCSKEW_SET="q_dedup_exact,q_dedup_ngram_jaccard,q_dedup_clusters,\
q_dedup_minhash,q_substring_dup"
  if [ -d testdata_docskew9x ]; then
    probe=$(SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.tools.DocSkewProbe testdata_docskew9x" 2>/dev/null |
      grep "docskew-probe" || true)
    echo "${probe:-docskew probe produced no output}"
    if ! echo "$probe" | grep -q "capped_postings=[1-9]"; then
      gate "docskew probe (cap never fired)"
    elif SPARK_GRAFT_CPUS=16 SPARK_GRAFT_ONLY="$DOCSKEW_SET" \
         sbt -batch "runMain graft.Verify testdata_docskew9x /tmp/ritual_vdocskew" \
         >/tmp/ritual_vdocskew.log 2>&1; then
      # the hot corpus must take the exactness-preserving RECOVERY path
      assert_cap_branch /tmp/ritual_vdocskew.log recovery "docskew9x"
      line=$(GRAFT_ORACLE_ONLY="$DOCSKEW_SET" python3 \
        scripts/oracle_check.py testdata_docskew9x /tmp/ritual_vdocskew |
        tail -1)
      echo "docskew spot: $line"
      if echo "$line" | grep -q "^PASS"; then
        [ -n "$ROUND" ] && [ -f /tmp/ritual_vdocskew/summary.json ] &&
          cp /tmp/ritual_vdocskew/summary.json "CORRECTNESS_r${ROUND}_docskew.json"
      else
        gate "oracle docskew spot"
      fi
    else
      gate "oracle docskew spot (Verify crashed)"
    fi
  else
    echo "testdata_docskew9x missing — run ScaleUp --docskew first"
    gate "oracle docskew spot (no data)"
  fi
  # docskew 27x SCALE leg (r17, r16 directive 5): the adaptive recovery's
  # materialization costs (posting + cold-pair checkpoints, the recovery
  # joins) only show at volume — oracle the dedup family on the cap-firing
  # corpus at 27 copies AND record its bench time. Base stays sf0.01: the
  # DuckDB oracle replays the shingle join UNCAPPED, and per-copy token
  # salting keeps each copy's hot posting (250 docs) enumerable.
  if [ -d testdata_docskew27x ]; then
    probe=$(SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.tools.DocSkewProbe testdata_docskew27x" 2>/dev/null |
      grep "docskew-probe" || true)
    echo "${probe:-docskew27x probe produced no output}"
    if ! echo "$probe" | grep -q "capped_postings=[1-9]"; then
      gate "docskew27x probe (cap never fired)"
    elif SPARK_GRAFT_CPUS=16 SPARK_GRAFT_ONLY="$DOCSKEW_SET" \
         sbt -batch "runMain graft.Verify testdata_docskew27x /tmp/ritual_vdocskew27" \
         >/tmp/ritual_vdocskew27.log 2>&1; then
      assert_cap_branch /tmp/ritual_vdocskew27.log recovery "docskew27x"
      line=$(GRAFT_ORACLE_ONLY="$DOCSKEW_SET" python3 \
        scripts/oracle_check.py testdata_docskew27x /tmp/ritual_vdocskew27 |
        tail -1)
      echo "docskew27x spot: $line"
      if echo "$line" | grep -q "^PASS"; then
        [ -n "$ROUND" ] && [ -f /tmp/ritual_vdocskew27/summary.json ] &&
          cp /tmp/ritual_vdocskew27/summary.json \
            "CORRECTNESS_r${ROUND}_docskew27x.json"
      else
        gate "oracle docskew27x spot"
      fi
      rm -f /tmp/ritual_bench_docskew27x.json
      SPARK_GRAFT_SF_DIR=testdata_docskew27x \
        SPARK_GRAFT_ONLY="$DOCSKEW_SET" \
        SPARK_GRAFT_BENCH_OUT=/tmp/ritual_bench_docskew27x.json \
        sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || true
      python3 - <<'PY' || gate "docskew27x bench"
import json, sys
d = json.load(open('/tmp/ritual_bench_docskew27x.json'))
print('docskew27x bench total', d['value'], 'failed', d['failed'])
sys.exit(1 if d['failed'] else 0)
PY
      [ -n "$ROUND" ] && [ -f /tmp/ritual_bench_docskew27x.json ] &&
        cp /tmp/ritual_bench_docskew27x.json \
          "BENCH_r${ROUND}_docskew27x.json"
    else
      gate "oracle docskew27x spot (Verify crashed)"
    fi
  else
    echo "testdata_docskew27x missing — run ScaleUp --docskew (27) first"
    gate "oracle docskew27x spot (no data)"
  fi

  step "5/8 bench sf0.1"
  # stale-artifact guard (r14 advice): every bench invocation below is
  # `|| true`, so a crashed run must be detected as MISSING output — a
  # leftover artifact from a previous round would otherwise pass the
  # failed-queries check and feed prior-round timings into the fit
  rm -f /tmp/ritual_bench_sf01.json /tmp/ritual_bench_sf1.json \
    /tmp/ritual_bench_27x.json /tmp/ritual_bench_81x.json
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_BENCH_OUT=/tmp/ritual_bench_sf01.json \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || true
  python3 - <<'PY' || gate "bench sf0.1"
import json, sys
d = json.load(open('/tmp/ritual_bench_sf01.json'))
print('total', d['value'], 'failed', d['failed'])
sys.exit(1 if d['failed'] else 0)
PY
  [ -n "$ROUND" ] && cp /tmp/ritual_bench_sf01.json \
    "BENCH_r${ROUND}_sf01.json"

  step "6/8 9x bench + linearity"
  if [ -d testdata_sf1 ]; then
    SPARK_GRAFT_SF_DIR=testdata_sf1 \
      SPARK_GRAFT_BENCH_OUT=/tmp/ritual_bench_sf1.json \
      sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || true
    # a query failing ONLY at 9x is exactly what this step exists to
    # catch — gate the artifact's failed list before the ratio check
    python3 - <<'PY' || gate "9x bench (failed queries)"
import json, sys
d = json.load(open('/tmp/ritual_bench_sf1.json'))
print('9x total', d['value'], 'failed', d['failed'])
sys.exit(1 if d['failed'] else 0)
PY
    [ -n "$ROUND" ] && cp /tmp/ritual_bench_sf1.json \
      "BENCH_r${ROUND}_sf1.json"
    if python3 scripts/linearity.py /tmp/ritual_bench_sf01.json \
         /tmp/ritual_bench_sf1.json 9 > /tmp/ritual_linearity.txt; then
      tail -2 /tmp/ritual_linearity.txt
      tail -1 /tmp/ritual_linearity.txt |
        grep -Eq "; 0/[0-9]+ queries over" ||
        gate "linearity (super-linear queries)"
    else
      tail -2 /tmp/ritual_linearity.txt
      gate "linearity (unparseable bench artifacts)"
    fi
    [ -n "$ROUND" ] && cp /tmp/ritual_linearity.txt "LINEARITY_r${ROUND}.txt"
  else
    echo "testdata_sf1 missing — run graft.tools.ScaleUp first"
    gate "9x bench (no data)"
  fi

  step "7/8 27x + 81x bench (top slow queries) + growth-exponent fit"
  if [ -d testdata_27x ] && [ -f /tmp/ritual_bench_sf1.json ]; then
    TOP=$(python3 - <<'PY'
import json
d = json.load(open('/tmp/ritual_bench_sf1.json'))
qs = sorted(d['queries'].items(), key=lambda kv: -kv[1])[:20]
print(','.join(q for q, _ in qs))
PY
)
    SPARK_GRAFT_SF_DIR=testdata_27x SPARK_GRAFT_ONLY="$TOP" \
      SPARK_GRAFT_BENCH_OUT=/tmp/ritual_bench_27x.json \
      sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || true
    python3 - <<'PY' || gate "27x bench (failed queries)"
import json, sys
d = json.load(open('/tmp/ritual_bench_27x.json'))
print('27x total (top-20)', d['value'], 'failed', d['failed'])
sys.exit(1 if d['failed'] else 0)
PY
    [ -n "$ROUND" ] && cp /tmp/ritual_bench_27x.json \
      "BENCH_r${ROUND}_27x.json"
    # 81x: a FOURTH growth point for the top-10 heaviest queries — the
    # tail slope 27x->81x is the closest the harness gets to the 100 TB
    # asymptote (fixed costs are fully amortized). THREE reps, not two:
    # with two, Bench's median degenerates to the max, and single-rep
    # outliers at 81x measure 1.6-2.6x on identical code (r16: sink
    # [255.2, 96.1] in one session) — a fit fed by maxima flags noise,
    # not growth. Median-of-3 rejects one outlier per query.
    GROWTH_POINTS="1:/tmp/ritual_bench_sf01.json 9:/tmp/ritual_bench_sf1.json 27:/tmp/ritual_bench_27x.json"
    if [ -d testdata_81x ]; then
      TOP10=$(python3 - <<'PY'
import json
d = json.load(open('/tmp/ritual_bench_sf1.json'))
qs = sorted(d['queries'].items(), key=lambda kv: -kv[1])[:10]
print(','.join(q for q, _ in qs))
PY
)
      SPARK_GRAFT_SF_DIR=testdata_81x SPARK_GRAFT_ONLY="$TOP10" \
        SPARK_GRAFT_REPS=3 \
        SPARK_GRAFT_BENCH_OUT=/tmp/ritual_bench_81x.json \
        sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || true
      if python3 - <<'PY'
import json, sys
d = json.load(open('/tmp/ritual_bench_81x.json'))
print('81x total (top-10)', d['value'], 'failed', d['failed'])
sys.exit(1 if d['failed'] else 0)
PY
      then
        GROWTH_POINTS="$GROWTH_POINTS 81:/tmp/ritual_bench_81x.json"
        [ -n "$ROUND" ] && cp /tmp/ritual_bench_81x.json \
          "BENCH_r${ROUND}_81x.json"
      else
        gate "81x bench (failed queries)"
      fi
    else
      echo "testdata_81x missing — 81x growth point skipped"
      gate "81x growth point (no data)"
    fi
    if python3 scripts/growth_fit.py --points $GROWTH_POINTS 1.2 \
         > /tmp/ritual_growth.txt; then
      tail -3 /tmp/ritual_growth.txt
    else
      tail -5 /tmp/ritual_growth.txt
      gate "growth fit (super-linear exponent)"
    fi
    [ -n "$ROUND" ] && cp /tmp/ritual_growth.txt "GROWTH_r${ROUND}.txt"
    # per-stage attribution data for the doc-heavy tail (r16, r15
    # directive 7): the next tail flag must arrive with its cpu/run, GC,
    # spill, and per-stage execution attribution already committed —
    # symptom AND evidence in one artifact.
    # r18 (r17 verdict directives 1/6/7): q_salted_join joins the set (the
    # third still-superlinear query at the scale legs), q_substring_dup
    # (heaviest untouched linear query — needs attributed stages before any
    # change), q_bpe_encode (the per-round training caches must be shown to
    # spill or not at 81x, not extrapolated from sf0.1).
    METRICS_SET="q_pipeline_sink,q_pipeline_clean,q_pipeline_full,\
q_dedup_clusters,q_dedup_ngram_jaccard,q_salted_join,q_substring_dup,\
q_bpe_encode"
    : > /tmp/ritual_metrics.txt
    for SCALE_DIR in testdata_27x testdata_81x; do
      [ -d "$SCALE_DIR" ] || continue
      sbt -batch "runMain graft.tools.StageMetrics $METRICS_SET $SCALE_DIR" \
        2>/dev/null | grep -Ev "^\[info\]|^\[warn\]|^\[success" \
        >> /tmp/ritual_metrics.txt ||
        gate "stage metrics ($SCALE_DIR)"
    done
    grep -c "stage-metrics" /tmp/ritual_metrics.txt | sed 's/^/metrics queries captured: /'
    [ -n "$ROUND" ] && cp /tmp/ritual_metrics.txt "METRICS_r${ROUND}.txt"
  else
    echo "testdata_27x missing — run graft.tools.ScaleUp first"
    gate "27x bench (no data)"
  fi
fi

step "8/8 final gate (clean tree, tests ran against HEAD)"
END_HEAD=$(git rev-parse HEAD)
# With ROUND set, steps 4-7 write the round's own artifacts into the
# tree — expected output, not dirt, or a full run could never exit 0.
# Everything ELSE still gates; the caller's next act must be the
# blessing commit that adds exactly these files.
ARTIFACT_RE='^zzz-no-artifacts$'
[ -n "$ROUND" ] && ARTIFACT_RE="(CORRECTNESS_r${ROUND}_(27x|skew|docskew|docskew27x|81x)\.json|BENCH_r${ROUND}_(sf01|sf1|27x|81x|docskew27x)\.json|LINEARITY_r${ROUND}\.txt|GROWTH_r${ROUND}\.txt|METRICS_r${ROUND}\.txt)$"
# Only UNTRACKED ('??') round artifacts are exempt dirt: a MODIFIED
# round artifact means committed evidence no longer matches this run
# (a post-blessing re-run overwrote blessed numbers) and must gate
# (r15 advice).
END_DIRTY=$(git status --porcelain | grep -Evc "^\?\? .*$ARTIFACT_RE" || true)
ART_DIRTY=$(git status --porcelain | grep -Ec "^\?\? .*$ARTIFACT_RE" || true)
if [ "$END_DIRTY" -ne 0 ]; then
  git status --porcelain | grep -Ev "^\?\? .*$ARTIFACT_RE" | head -20
  gate "final gate (uncommitted changes — commit, then re-run the ritual)"
elif [ "$END_HEAD" != "$START_HEAD" ] || [ "$START_DIRTY" -ne 0 ]; then
  echo "tree moved since step 1 (${START_HEAD:0:9} dirty=$START_DIRTY ->" \
    "${END_HEAD:0:9}) — re-running the full suite against HEAD"
  out=$(sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2)
  echo "$out"
  echo "$out" | grep -q "failed 0" || gate "final gate (sbt test at HEAD)"
else
  echo "HEAD ${END_HEAD:0:9} unchanged and clean — step-1 run WAS the" \
    "HEAD run"
fi
[ "${ART_DIRTY:-0}" -ne 0 ] &&
  echo "round artifacts awaiting the blessing commit:" &&
  git status --porcelain | grep -E "^\?\? .*$ARTIFACT_RE"

echo; echo "ritual exit: $status"
exit $status
