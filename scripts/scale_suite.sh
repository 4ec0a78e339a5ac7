#!/usr/bin/env bash
# One-command runner for ALL env-gated scale suites (BASELINE.md "Gated
# scale-suite cadence"): the verbatim ALS grid at sf0.01 AND sf0.1, and the
# four stateful-streaming agreement tests at sf0.1. Run from the repo root
# after any change to the ALS/streaming subsystems (or once per round to
# refresh the cadence table); exits non-zero on any failure. A cold sbt
# launch adds a few minutes.
set -euo pipefail

# One sbt invocation covers the per-spec defaults (ALS→sf0.01,
# STREAM→sf0.1); the second runs the verbatim ALS grid at sf0.1.
# Serialized — two concurrent sbt launchers contend on the project lock.
SPARK_GRAFT_VERBATIM_ALS=1 SPARK_GRAFT_SCALE_STREAM=1 \
  sbt -batch "testOnly graft.ReferenceAlsSpec graft.ScaleStreamSpec"
SPARK_GRAFT_VERBATIM_ALS=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "testOnly graft.ReferenceAlsSpec"
echo "scale_suite: all gated suites green"
