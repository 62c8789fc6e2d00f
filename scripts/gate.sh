#!/usr/bin/env bash
# Standing correctness gate — run before claiming any round "green".
#
# Chains the three checks that together predicted every driver verdict
# so far:
#   1. full registry at sf0.001  (fast catch-all)
#   2. full registry at sf0.01   (the driver's CORRECTNESS gate SF)
#   3. FULL registry at sf0.1 (10x the gate SF) — round-12 upgrade:
#      the r11 float-sensitive SUBSET missed nothing at sf0.1, but the
#      subset selection itself is a judgment call the driver does not
#      make; running every sql key at sf0.1 removes the gap. The
#      cross-engine hazards (percentile interpolation ulps, ln(0)
#      domain, libm drift, signed-zero round()) only show at scale.
#
# check.py hard-fails on int-vs-float dtype drift (the r8
# HUGEINT-window-sum class), on row/column/value mismatch, AND — since
# round 12 — on STRICT stringified-cell drift (the driver hashes
# stringified cells, so -0.0 vs 0.0 is a driver FAIL that atol-based
# compares wave through; that was the entire r11 red set), so a green
# gate here predicts a green driver hash.
#
# Usage: scripts/gate.sh   (from the repo root; ~15 min)
set -euo pipefail
cd "$(dirname "$0")/.."

CPUS="${SPARK_GRAFT_CPUS:-8}"

run_gate() {
  local sf="$1" out="$2" filter="${3:-}"
  rm -rf "$out"
  if [ -n "$filter" ]; then
    SPARK_GRAFT_CPUS="$CPUS" sbt -batch \
      "runMain graft.Verify /root/testdata/$sf $out $filter" \
      > "/tmp/gate_verify_$sf.log" 2>&1 \
      || { echo "VERIFY FAILED at $sf — tail of log:"; tail -20 "/tmp/gate_verify_$sf.log"; exit 1; }
  else
    SPARK_GRAFT_CPUS="$CPUS" sbt -batch \
      "runMain graft.Verify /root/testdata/$sf $out" \
      > "/tmp/gate_verify_$sf.log" 2>&1 \
      || { echo "VERIFY FAILED at $sf — tail of log:"; tail -20 "/tmp/gate_verify_$sf.log"; exit 1; }
  fi
  grep -F '[verify]' "/tmp/gate_verify_$sf.log" && { echo "VERIFY had per-query failures at $sf"; exit 1; }
  # check.py exits 1 when any key FAILs; keep its report either way so
  # the FAIL lines print before the gate exits.
  local report status
  set +e
  report="$(python3 scripts/check.py "/root/testdata/$sf" "$out")"
  status=$?
  set -e
  echo "$report" | tail -3
  if [ "$status" -ne 0 ] || echo "$report" | grep -q '^FAIL'; then
    echo "GATE FAILED at $sf (check.py exit $status):"
    echo "$report" | grep '^FAIL' || true
    exit 1
  fi
}

echo "== gate 1/4: full registry @ sf0.001 =="
run_gate sf0.001 /tmp/gate_sf0.001
echo "== gate 2/4: full registry @ sf0.01 (driver SF) =="
run_gate sf0.01 /tmp/gate_sf0.01
echo "== gate 3/4: full registry @ sf0.1 =="
run_gate sf0.1 /tmp/gate_sf0.1
# Registry-wide plan gate (r15 verdict #8): zero CartesianProduct +
# column pruning on every sfDir scan, with the reasoned allowlist for
# legitimately full-width keys — a plan regression fails the ROUND,
# not just the test suite.
echo "== gate 4/4: registry-wide plan sweep (FleetPlanSpec) =="
sbt -batch "testOnly graft.FleetPlanSpec" > /tmp/gate_fleetplan.log 2>&1 \
  || { echo "PLAN GATE FAILED — tail of log:"; tail -30 /tmp/gate_fleetplan.log; exit 1; }
grep -E "Tests: succeeded" /tmp/gate_fleetplan.log | tail -1
echo "== GATE GREEN =="
