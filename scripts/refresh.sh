#!/bin/bash
# Full artifact refresh: suite, tri-SF oracle gate, targeted synthetic-sf1
# gate, then BENCH / ANN / SCALING / STREAMBENCH / ITERSCALE / PLANS, each
# written as <NAME>_<tag>.json in the repo root (PLANS.md is regenerated
# in place). BENCH's sf0.1 record carries
# each query's job, stage, task, byte and idle-time costs.
#
# Usage: scripts/refresh.sh <tag> [testdata-dir]
#   testdata-dir holds sf0.001/sf0.01/sf0.1 (default: $HOME/testdata).
#   SPARK_GRAFT_SKIP_GATES=1 skips the suite and both oracle gates.
#
# Every producing stage writes to the work dir first and is promoted only
# on exit 0 plus a JSON parse; its tmp artifact is removed before the run,
# so a crash never promotes a stale file. Stage results are appended to
# <work>/status.log (work dir: ${TMPDIR:-/tmp}/refresh_<tag>). Exit 1 if
# a gate failed (suite, oracle, sf1 gate, or the AnnBench recall gate).
set -u
TAG=${1:?usage: scripts/refresh.sh <tag> [testdata-dir]}
DATA=${2:-$HOME/testdata}
cd "$(dirname "$0")/.."
REPO=$PWD
WORK=${TMPDIR:-/tmp}/refresh_$TAG
mkdir -p "$WORK"
STATUS=$WORK/status.log
rm -f "$STATUS"
note () { echo "$*" >> "$STATUS"; }
main () { sbt -batch "runMain graft.$*"; }
parses () { python3 -c "import json,sys; json.load(open(sys.argv[1]))" "$1" 2>/dev/null; }

promote () { # name, tmp file, artifact, rc
  if [ "$4" -eq 0 ] && parses "$2"; then
    cp "$2" "$3"; note "$1_EXIT=0 WROTE=$3"
  else
    note "$1_EXIT=$4 ARTIFACT_KEPT"; return 1
  fi
}

# synthetic corpora (deterministic; generated when absent)
[ -d testdata-sf0.1-synth/lineitem.parquet ] ||
  main SynthData 0.1 "$REPO/testdata-sf0.1-synth" 2>&1 | tail -2
[ -d testdata-sf1/lineitem.parquet ] ||
  main SynthData 1 "$REPO/testdata-sf1" 2>&1 | tail -2
for sf in 0.01 0.1 1 10; do
  [ -d "testdata-sf$sf-clustered/embeddings.parquet" ] ||
    main SynthData "$sf" "$REPO/testdata-sf$sf-clustered" clustered embeddings 2>&1 | tail -2
done

GATE_FAIL=0
TEST_EXIT=skipped
if [ -z "${SPARK_GRAFT_SKIP_GATES:-}" ]; then
  sbt -batch test > "$WORK/test.log" 2>&1
  TEST_EXIT=$?
  [ $TEST_EXIT -ne 0 ] && GATE_FAIL=1
  note "TEST_EXIT=$TEST_EXIT $(grep -E 'Tests: succeeded' "$WORK/test.log" | tail -1)"

  for sf in 0.001 0.01 0.1; do
    rm -rf "$WORK/verify_sf$sf"
    main Verify "$DATA/sf$sf" "$WORK/verify_sf$sf" > "$WORK/verify_sf$sf.log" 2>&1
    python3 scripts/oracle_check.py "$DATA/sf$sf" "$WORK/verify_sf$sf" > "$WORK/oracle_sf$sf.log" 2>&1
    G=$?
    [ $G -ne 0 ] && GATE_FAIL=1
    note "GATE_sf$sf=$G $(tail -1 "$WORK/oracle_sf$sf.log")"
  done

  # targeted sf1 gate: the queries whose count-scaled regime (r=11 bits,
  # 256 IMI cells, nprobe=16, k_pq=64, the √n family's scan-budget route
  # and 4-round codebooks) only engages at this size
  SF1_QS="q34_lsh_ann,q38_ann_recall,q78_ann_recall_summary,q251_trained_ivf,q253_ivfpq_serving,q255_ivfpq_residual,q256_scaled_ivf,q257_ivfpq_refine,q258_imi_sqrt,q259_random_route,q260_ivfpq_sqrt_refine"
  SF1_N=11
  rm -rf "$WORK/verify_sf1"
  SPARK_GRAFT_ONLY="$SF1_QS" main Verify "$REPO/testdata-sf1" "$WORK/verify_sf1" > "$WORK/verify_sf1.log" 2>&1
  python3 scripts/oracle_check.py "$REPO/testdata-sf1" "$WORK/verify_sf1" > "$WORK/oracle_sf1.log" 2>&1
  SF1_OK=$(grep -cE '^OK' "$WORK/oracle_sf1.log")
  note "GATE_sf1_targeted ok=$SF1_OK/$SF1_N"
  [ "$SF1_OK" -ne "$SF1_N" ] && GATE_FAIL=1
fi

rm -f "$WORK/BENCH.json"
SPARK_GRAFT_SF_DIR=$DATA/sf0.1 SPARK_GRAFT_BENCH_OUT=$WORK/BENCH.json \
  main Bench > "$WORK/bench.log" 2>&1
promote BENCH "$WORK/BENCH.json" "BENCH_$TAG.json" $?

UNIFORM="$DATA/sf0.001,$DATA/sf0.01,$DATA/sf0.1,$REPO/testdata-sf1"
CLUSTERED="$REPO/testdata-sf0.01-clustered,$REPO/testdata-sf0.1-clustered,$REPO/testdata-sf1-clustered"

# serve latency, recall GATE and recall curve per dir: exit 2 = a floor
# violation or the clustered-arm structure ratio failed; the artifact
# (with its violations) is the record either way
rm -f "$WORK/ANN.json"
main AnnBench "$WORK/ANN.json" "$UNIFORM" "$CLUSTERED" > "$WORK/ann.log" 2>&1
ANN_EXIT=$?
[ $ANN_EXIT -ne 0 ] && GATE_FAIL=1
promote ANN "$WORK/ANN.json" "ANN_$TAG.json" 0 || true
note "ANN_GATE_EXIT=$ANN_EXIT"

rm -f "$WORK/SF1FULL.json"
SPARK_GRAFT_BENCH_REPEATS=1 SPARK_GRAFT_BENCH_OUT=$WORK/SF1FULL.json \
  main Bench "$REPO/testdata-sf0.1-synth" "$REPO/testdata-sf1" > "$WORK/sf1full.log" 2>&1
promote SF1FULL "$WORK/SF1FULL.json" "SCALING_SF1_FULL_$TAG.json" $?

rm -f "$WORK/SCALING.json"
SPARK_GRAFT_BENCH_OUT=$WORK/SCALING.json \
  main Bench "$DATA/sf0.001" "$DATA/sf0.01" "$DATA/sf0.1" > "$WORK/scale.log" 2>&1
promote SCALE "$WORK/SCALING.json" "SCALING_$TAG.json" $?

rm -f "$WORK/STREAMBENCH.json"
SPARK_GRAFT_SF_DIR=$DATA/sf0.1 main StreamBench "$WORK/STREAMBENCH.json" > "$WORK/stream.log" 2>&1
promote STREAM "$WORK/STREAMBENCH.json" "STREAMBENCH_$TAG.json" $?

rm -f "$WORK/ITERSCALE.json"
main IterScale "$WORK/ITERSCALE.json" > "$WORK/iter.log" 2>&1
promote ITER "$WORK/ITERSCALE.json" "ITERSCALE_$TAG.json" $?

main PlanDump "$DATA/sf0.01" > "$WORK/plans.log" 2>&1
note "PLANS_EXIT=$?"

note "ALL_DONE test=$TEST_EXIT gate_fail=$GATE_FAIL"
[ $GATE_FAIL -eq 0 ]
