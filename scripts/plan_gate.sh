#!/usr/bin/env bash
# Standing plan-shape regression gate (VERDICT r19 #2): diff the current
# binary's per-query static plan shapes against the newest committed
# plan_shape_r*.json baseline. Exit non-zero iff any query lost a
# broadcast, gained/lost a shuffle Exchange, fell out of whole-stage
# codegen, or disappeared from the stamp — the plan-regression classes
# .explain reviews used to catch by hand.
#
# Usage: bash scripts/plan_gate.sh [baseline.json] [new.json]
#   baseline: default = newest committed plan_shape_r*.json
#   new:      when omitted, the current binary is ALWAYS re-stamped to
#             target/plan_shape_stamp.json via graft.PlanStamp
#             (no timed runs, but 50 queries run jobs while they are
#             built — see PlanStamp; ~3 min at sf0.1) — a leftover
#             stamp is never reused. Pass an existing stamp path (e.g.
#             a PlanStamp output written earlier) to gate on it as-is;
#             a nonexistent explicit path exits 2.
#
# Intentional changes (a redesigned operator, a new query) make the diff
# exit 1 BY DESIGN: adjudicate the printed lines, then commit the new
# stamp as plan_shape_r{N}.json to move the baseline.
set -euo pipefail

cd "$(dirname "$0")/.."

# the gate is only trustworthy if doctored stamps demonstrably fail it
python3 scripts/test_plan_shape_diff.py

BASELINE="${1:-$(ls plan_shape_r*.json | sort -V | tail -1)}"

if [ -n "${2:-}" ]; then
  # caller supplied a stamp (a PlanStamp output) — gate on it as-is
  NEW="$2"
else
  # ALWAYS re-stamp the current binary (review r20 #1: reusing a
  # leftover stamp file would diff a PRE-change plan and green-light a
  # regressed binary — the stamp must describe the code being gated)
  NEW="target/plan_shape_stamp.json"
  echo "[plan_gate] stamping current binary (PlanStamp) -> $NEW"
  sbt -batch "runMain graft.PlanStamp /root/testdata/sf0.1 $NEW"
fi

echo "[plan_gate] diffing $BASELINE -> $NEW"
python3 scripts/plan_shape_diff.py "$BASELINE" "$NEW"
