#!/usr/bin/env python3
"""Scale-regression ratchet over the whole-registry 10x sweep.

Usage: scripts/scale_gate.py [current.json] [baseline.json]
  defaults: scale_sweep_10x.json vs scale_sweep_10x_prev.json

Compares the per-key seconds of the current round's 10x replica sweep
(`sbt "runMain graft.tools.Sf1Smoke"`) against the prior round's
recorded bracket and FAILS (exit 1) if any key exceeds RATIO x its
prior point — the standing scale-regression detector the 100 TB
design claim needs (r15 verdict #4).

Keys new this round (no baseline point) are listed informationally.
Sub-floor timings (< FLOOR s on both sides) are ignored: at that size
the number is session noise, not a plan.
"""
import json
import sys

RATIO = 3.0
FLOOR = 1.0  # seconds — below this on both sides, noise not plans

cur_f = sys.argv[1] if len(sys.argv) > 1 else "scale_sweep_10x.json"
base_f = sys.argv[2] if len(sys.argv) > 2 else "scale_sweep_10x_prev.json"

def load(path):
    # Underscore-prefixed entries are metadata (the "_fixture_deps"
    # fixture -> dependent-keys attribution map, r16 verdict #5), not
    # timings — strip them before any numeric comparison.
    return {k: v for k, v in json.load(open(path)).items()
            if not k.startswith("_")}

cur = load(cur_f)
try:
    base = load(base_f)
except FileNotFoundError:
    print(f"[scale-gate] no baseline {base_f} — recording-only round "
          f"({len(cur)} keys in {cur_f}); copy it to {base_f} at round "
          "close to arm the ratchet")
    sys.exit(0)

# A failed key is recorded as the -1 sentinel by Sf1Smoke — a gate
# failure in its own right (and it must not rotate into the baseline
# as a bogus near-zero "speedup" that trips next round spuriously).
failed = sorted(k for k, v in cur.items() if v < 0)
if failed:
    print(f"[scale-gate] FAIL — {len(failed)} keys FAILED in the "
          "sweep: " + ", ".join(failed))
    sys.exit(1)

new = sorted(k for k in cur if k not in base)
gone = sorted(k for k in base if k not in cur)
bad = []
floor_cross = []
for k, v in sorted(cur.items()):
    b = base.get(k)
    # b <= 0 = a failed/sub-ms baseline entry: treat as absent (the
    # new-key path) so the key re-arms next rotation instead of being
    # skipped forever.
    if b is None or b <= 0:
        continue
    if v < FLOOR and b < FLOOR:
        continue
    if v > RATIO * max(b, FLOOR):
        bad.append((k, b, v, v / b))
    elif b < FLOOR <= v and v > RATIO * b:
        # The FLOOR clamp lets a sub-second baseline regress to up to
        # RATIO*FLOOR without tripping (0.05 s -> 2.9 s is 58x but
        # passes). Not a hard fail — sub-second points ARE noisy —
        # but the jump must be on the record, not silent (r16 advice).
        floor_cross.append((k, b, v, v / b))

if new:
    print(f"[scale-gate] {len(new)} new keys (no baseline): "
          + ", ".join(new[:10]) + (" ..." if len(new) > 10 else ""))
if gone:
    print(f"[scale-gate] {len(gone)} keys dropped since baseline: "
          + ", ".join(gone[:10]) + (" ..." if len(gone) > 10 else ""))

if floor_cross:
    print(f"[scale-gate] info — {len(floor_cross)} sub-floor keys "
          f"crossed the {FLOOR:.0f} s floor by more than {RATIO}x "
          "(not gated; watch next round):")
    for k, b, v, r in sorted(floor_cross, key=lambda x: -x[3]):
        print(f"  {k}: {b:.2f} s -> {v:.2f} s ({r:.1f}x)")

tot_c = sum(v for k, v in cur.items() if not k.startswith("fixture:"))
tot_b = sum(v for k, v in base.items() if not k.startswith("fixture:"))
print(f"[scale-gate] totals: current {tot_c:.1f} s vs baseline "
      f"{tot_b:.1f} s over {len(cur)} / {len(base)} keys")

if bad:
    print(f"[scale-gate] FAIL — {len(bad)} keys past {RATIO}x their "
          "prior 10x point:")
    for k, b, v, r in sorted(bad, key=lambda x: -x[3]):
        print(f"  {k}: {b:.2f} s -> {v:.2f} s ({r:.1f}x)")
    sys.exit(1)
print("[scale-gate] OK — no key past the ratchet")
