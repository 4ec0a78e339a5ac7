#!/usr/bin/env python3
"""Diff two plan-shape stamps (graft.PlanStamp output, e.g.
target/plan_shape_stamp.json, or a committed plan_shape_r*.json): prints one line per query whose static plan shape
changed — a new/lost shuffle Exchange, a gained/lost broadcast, or an
operator falling out of whole-stage codegen — plus added/removed
queries. Exit 1 iff any shape changed OR any query was removed (the
registry never shrinks silently; a probe-clobbered empty stamp must
read red, not OK). Added queries alone are registry growth: exit 0.

Usage: python3 scripts/plan_shape_diff.py <old.json> <new.json>

Exit codes: 0 unchanged (additions allowed), 1 shape changed or query
removed, 2 usage/malformed input (ADVICE r19: a gate script must
diagnose bad input, not traceback).
"""
import json
import sys


def load_stamp(path):
    """A stamp must be a JSON object of per-query objects; anything else
    (a list, a truncated file, unreadable path) exits 2 with a
    diagnostic instead of a bare traceback."""
    try:
        with open(path) as f:
            stamp = json.load(f)
    except (OSError, ValueError) as e:
        print(f"plan_shape_diff: cannot read stamp {path}: {e}",
              file=sys.stderr)
        sys.exit(2)
    if not isinstance(stamp, dict) or not all(
            isinstance(v, dict) for v in stamp.values()):
        print(f"plan_shape_diff: {path} is not a "
              "{query -> {field -> value}} stamp", file=sys.stderr)
        sys.exit(2)
    return stamp


def main():
    if len(sys.argv) != 3:
        print("usage: plan_shape_diff.py <old.json> <new.json>",
              file=sys.stderr)
        sys.exit(2)
    old = load_stamp(sys.argv[1])
    new = load_stamp(sys.argv[2])
    changed = False
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        if o != n:
            changed = True
            # union of keys, .get on both sides: a stamp written by an
            # older/newer PlanShape may carry a different field set, and
            # a one-sided field must render as a delta, not a KeyError
            deltas = ", ".join(
                f"{k}: {o.get(k)} -> {n.get(k)}"
                for k in sorted(set(o) | set(n))
                if o.get(k) != n.get(k)
            )
            print(f"CHANGED {name}: {deltas}")
    for name in sorted(set(new) - set(old)):
        print(f"ADDED   {name}: {json.dumps(new[name], sort_keys=True)}")
    removed = sorted(set(old) - set(new))
    for name in removed:
        changed = True
        print(f"REMOVED {name}")
    same = sum(1 for q in set(old) & set(new) if old[q] == new[q])
    # the verdict prefix must agree with the exit code: a log reader
    # tailing for OK/FAILED sees the same answer the driver's exit
    # check does
    verdict = "FAILED" if changed else "OK"
    print(f"{verdict}: {same} unchanged, {len(set(new) - set(old))} added, "
          f"{len(removed)} removed")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
