#!/usr/bin/env bash
# Round-close certification: the 3-SF correctness gate + plan sweep
# (gate.sh), then the whole-registry 10x scale sweep ratcheted against
# the prior round's bracket (r15 verdict #4). Run UNCONTENDED — the
# sweep numbers feed the round-over-round scale gate.
#
# Usage: scripts/round_close.sh   (from the repo root; ~45-60 min)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== round-close 1/3: correctness + plan gate =="
bash scripts/gate.sh

echo "== round-close 2/3: whole-registry 10x scale sweep =="
# The replica cache keys on the OUTPUT dir only — rebuild if the
# source testdata regenerated (stale caches fail loudly inside).
# env -u: a leaked SPARK_GRAFT_ONLY would narrow the sweep to a
# partial bracket and the rotation below would certify stale data.
env -u SPARK_GRAFT_ONLY \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch "runMain graft.tools.Sf1Smoke" \
  > /tmp/round_close_sweep.log 2>&1 \
  || { echo "SWEEP FAILED — tail:"; tail -20 /tmp/round_close_sweep.log; exit 1; }
grep -F '[sf1-smoke] bracket written: scale_sweep_10x.json' \
  /tmp/round_close_sweep.log \
  || { echo "SWEEP did not write the FULL bracket (partial run?)"; exit 1; }
# Anchor to the tool's own failure prefixes — a transient executor
# line containing FAILED (task retried successfully) must not fail
# the round, while every Sf1Smoke-reported key/fixture failure must
# (r16 advice; the -1 sentinels in the JSON are the second net).
if grep -E '^\[sf1-smoke\] (fixture )?\S+ FAILED' /tmp/round_close_sweep.log; then
  echo "SWEEP had per-key failures"; exit 1
fi

echo "== round-close 3/3: scale-regression ratchet =="
python3 scripts/scale_gate.py
# Arm next round's ratchet: the just-recorded bracket becomes the
# baseline the NEXT round is compared against.
cp scale_sweep_10x.json scale_sweep_10x_prev.json
echo "== ROUND-CLOSE GREEN (baseline rotated) =="
