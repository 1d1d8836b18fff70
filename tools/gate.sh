#!/usr/bin/env bash
# Full local gate: tests + oracle correctness (BOTH SFs) + ×10 corpus gate
# + growth-class gate + bench (sf0.1) + same-session DuckDB ratio.
# Pass QUICK=1 to run only tests (sbt and perfbench) + sf0.01 verify.
#
# r14: every section now FAILS THE GATE (nonzero exit, summary at the end)
# instead of just printing — the r13 VERDICT item 3 requirement that an x10
# oracle failure or a growth-class breach cannot slip through a green-looking
# log.
set -uo pipefail
cd "$(dirname "$0")/.."

declare -a FAILED_SECTIONS=()
section_result() { # $1 = name, $2 = rc
  if [ "$2" -ne 0 ]; then FAILED_SECTIONS+=("$1"); echo "!! $1 FAILED (rc=$2)"; fi
}

echo "== tests =="
sbt -batch test > /tmp/gate_tests.log 2>&1
TESTS_RC=$?   # sbt exits nonzero on any test failure
grep -E "Tests:|Passed:|FAILED" /tmp/gate_tests.log
section_result "tests" $TESTS_RC

# the benchmark harness builds against the public GraftSession API, so a
# facade change that breaks the harness build turns the gate red here
echo "== perfbench harness tests =="
python3 -m unittest discover -s perfbench/tests > /tmp/gate_perfbench_tests.log 2>&1
PERFBENCH_RC=$?
tail -n 3 /tmp/gate_perfbench_tests.log
section_result "perfbench_tests" $PERFBENCH_RC

# r15 (ADVICE r14): a Verify crash can no longer hide behind a green check —
# the sbt exit status is captured (not |true-masked), the out dir is cleaned
# so stale dirs from prior runs can't stand in for missing queries, and
# check.py fails any oracle key with no result dir (missing_from_run).
run_verify() { # $1 = sfDir, $2 = outDir, $3 = section name
  rm -rf "$2"
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} \
    sbt -batch "runMain graft.Verify $1 $2" > /tmp/gate_verify_run.log 2>&1
  local vrc=$?
  grep "\[verify\]" /tmp/gate_verify_run.log || true
  python3 tools/check.py "$1" "$2" 2>/dev/null | grep -E "FAIL|MISSING|=="
  local crc=${PIPESTATUS[0]}
  section_result "$3" $(( vrc != 0 ? vrc : crc ))
}

echo "== verify sf0.01 =="
run_verify /root/testdata/sf0.01 /tmp/gate_verify verify_sf0.01

if [ "${QUICK:-0}" = "1" ]; then
  [ ${#FAILED_SECTIONS[@]} -eq 0 ] && { echo "== QUICK GATE GREEN =="; exit 0; } \
    || { echo "== QUICK GATE RED: ${FAILED_SECTIONS[*]} =="; exit 1; }
fi

echo "== verify sf0.1 =="
run_verify /root/testdata/sf0.1 /tmp/gate_verify1 verify_sf0.1

echo "== x10 corpus gate (threshold-sensitive ops at 10x docs; VERDICT r11 item 6) =="
bash tools/x10_gate.sh
section_result "x10_gate" $?

echo "== scale gate (1x vs 10x growth classes; VERDICT r11 item 5) =="
SCALE_QUERIES=d71,d82,d83,s61,s76,s78_probe,s79_probe,s80_probe,t73,s84,q108,q109,q111,q113,q114,q115,q116,q117,q118,q119,q120,q121,d94,d95,d96,ivx_probe,q122,q123,q124,merge_scalable_probe,asof_scalable_probe \
SCALE_FACTORS=1,10 \
  sbt -batch "runMain graft.tools.ScaleProbe /root/testdata/sf0.1 /tmp/graft_scale" 2>&1 \
  | grep "\[scale\]" | tee /tmp/scale_gate.txt || true
python3 tools/scale_gate.py /tmp/scale_gate.txt
section_result "scale_gate" $?

echo "== bench sf0.1 =="
BENCH_LINE=$(SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"' | head -n 1)
# head -n 1: Bench emits TWO metric lines (the full per-query line first,
# then the short family-totals line) — the soak/ratio parsers below need
# exactly the full one; two concatenated lines are not valid JSON (first
# full-gate run of these r16 sections caught this).
echo "$BENCH_LINE"
[ -n "$BENCH_LINE" ] && ! echo "$BENCH_LINE" | grep -q '"failed":\["'
section_result "bench" $?
# r16 (ADVICE r15): the distributed-serving floor reads the JUST-PRODUCED
# bench line, never the checked-in BENCH.json — a failed/skipped bench step
# can no longer satisfy the floor with a stale file. BASELINE.md records
# >= 20 q/s at sf0.1 local[32]; a plan-cache regression on the real-job
# path (re-planning per call lands near ~13 q/s) must turn the gate red.
BENCH_LINE="$BENCH_LINE" python3 - <<'EOF'
import json, os, sys
line = os.environ.get("BENCH_LINE", "").strip()
if not line:
    print("[soak-gate] FAIL: bench produced no metric line"); sys.exit(1)
try:
    q = json.loads(line).get("soak_dist_qps", -1.0)
except Exception as e:
    print(f"[soak-gate] FAIL: cannot parse bench line: {e}"); sys.exit(1)
floor = 20.0
if q < floor:
    print(f"[soak-gate] FAIL: soak_dist_qps {q} below the BASELINE.md floor {floor}")
    sys.exit(1)
print(f"[soak-gate] PASS: soak_dist_qps {q} >= {floor}")
EOF
section_result "soak_dist_floor" $?

echo "== duckdb baseline (same session) =="
python3 tools/bench_duck.py /root/testdata/sf0.1 /tmp/gate_verify1 2 2>/dev/null | tail -1
# r16 (VERDICT r15 item 3): the 2x ratio is GATED, not just printed — warm
# engine total vs DuckDB total over the queries BOTH sides timed (bench
# times every contract query; DuckDB times only the oracle-backed ones).
# BASELINE.json's contract is <= 2.0; above it the gate goes red.
BENCH_LINE="$BENCH_LINE" python3 - <<'EOF'
import json, os, sys
line = os.environ.get("BENCH_LINE", "").strip()
try:
    bench = json.loads(line)["queries"]
    duck = json.load(open("/tmp/gate_verify1/duck_times.json"))["queries"]
except Exception as e:
    print(f"[ratio-gate] FAIL: cannot load bench/duck times: {e}"); sys.exit(1)
common = sorted(set(bench) & set(duck))
if len(common) < 50:
    print(f"[ratio-gate] FAIL: only {len(common)} common queries"); sys.exit(1)
bt, dt = sum(bench[q] for q in common), sum(duck[q] for q in common)
ratio = bt / dt if dt > 0 else float("inf")
limit = 2.0
verdict = "PASS" if ratio <= limit else "FAIL"
print(f"[ratio-gate] {verdict}: engine {bt:.1f}s vs duckdb {dt:.1f}s over "
      f"{len(common)} queries -> ratio {ratio:.2f}x (limit {limit}x)")
sys.exit(0 if ratio <= limit else 1)
EOF
section_result "duckdb_ratio" $?

if [ ${#FAILED_SECTIONS[@]} -eq 0 ]; then
  echo "== GATE GREEN =="
else
  echo "== GATE RED: ${FAILED_SECTIONS[*]} =="
  exit 1
fi
