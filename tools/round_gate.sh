#!/bin/bash
# Round gate: every check the driver (and the judge) will run, in one
# command. Order: cheapest-fail-first. Usage: bash tools/round_gate.sh
#
# The transcript MUST name the tree it graded: the gate stamps HEAD at
# start and end, and refuses to run over uncommitted product code —
# round 7's last two product commits landed after the final gate
# append, leaving the committed transcript covering a stale tree.
# Workflow rule: if product code lands after a gate run, RE-APPEND a
# fresh gate run so ROUND_GATE_r{N}.log's last append names the round's
# final product SHA.
set -e
cd "$(dirname "$0")/.."
HEAD_SHA=$(git rev-parse --short HEAD)
echo "== gate HEAD ${HEAD_SHA} — $(date -u +%Y-%m-%dT%H:%MZ)"
if ! git diff --quiet HEAD -- gravity_spark tools tests bench.py __spark_entry__.py; then
  echo "GATE FAIL: uncommitted product/test changes — commit first so the transcript names the graded tree"
  git status --short -- gravity_spark tools tests bench.py __spark_entry__.py
  exit 1
fi
echo "== 1/9 unit tests" && python -m pytest tests/ -x -q
echo "== 2/9 oracle @ sf0.01 (driver gate scale)" && python tools/check_oracle.py /root/testdata/sf0.01
echo "== 3/9 oracle under a VANILLA session (driver session shape)" && SPARK_GRAFT_VANILLA=1 python tools/check_oracle.py /root/testdata/sf0.001
echo "== 4/9 determinism (double-run, value-identical)" && python tools/determinism_check.py /root/testdata/sf0.001
echo "== 5/9 plan hygiene (pushdown, no cartesian, no partition-less windows)" && python tools/explain_audit.py /root/testdata/sf0.001 > /dev/null
# stderr stays in the transcript (advisor: 2>/dev/null + set -e meant a
# crashed gate step aborted with no diagnostic); Spark's log4j chatter
# goes to a sidecar so the transcript stays readable.
# the only check of the real build_pipeline → file-cdc → parquet-merge
# assembly against a last-write-wins model, at a 500k-row replica
echo "== 6/9 cdc_tail end to end (correctness only)" && { python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 5 --trace 0 2>/tmp/gate_cdc_stderr.log | tail -1 | tee /tmp/gate_cdc.out; grep -q '"correct": true' /tmp/gate_cdc.out || { echo "cdc_tail run incorrect or crashed; last stderr:"; tail -40 /tmp/gate_cdc_stderr.log; exit 1; }; }
# the only oracle check on freshly generated sf0.1 tables: new files,
# so the table loader must infer their schemas rather than reuse pins
echo "== 7/9 registry_stride end to end (correctness only)" && { python3 perfbench/run.py --workload registry_stride --seed 1 --seconds 1 --trace 0 2>/tmp/gate_reg_stderr.log | tail -1 | tee /tmp/gate_reg.out; grep -q '"correct": true' /tmp/gate_reg.out || { echo "registry_stride run incorrect or crashed; last stderr:"; tail -40 /tmp/gate_reg_stderr.log; exit 1; }; }
echo "== 8/9 CDC apply-path throughput floor (20M rows; the r7 regression class)" && { python tools/throughput_gate.py 2>/tmp/gate_tp_stderr.log || { echo "throughput gate failed/crashed; last stderr:"; tail -40 /tmp/gate_tp_stderr.log; exit 1; }; }
echo "== 9/9 bench @ sf0.1 (stall-sentinel-stamped)" && { python bench.py 2>/tmp/gate_bench_stderr.log | tail -1; test "${PIPESTATUS[0]}" = 0 || { echo "bench step failed; last stderr:"; tail -40 /tmp/gate_bench_stderr.log; exit 1; }; }
echo "ROUND GATE: all green on HEAD ${HEAD_SHA}"
