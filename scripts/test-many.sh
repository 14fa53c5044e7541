#!/usr/bin/env bash
# Repeat-suite flake harness — analog of the reference's
# src/main/test-mr-many.sh:15-22 (run the whole suite N times, stop at
# the first failing trial). Usage: scripts/test-many.sh [runs]
set -uo pipefail
cd "$(dirname "$0")/.."
runs=${1:-3}
for i in $(seq 1 "$runs"); do
  echo "*** trial $i/$runs"
  if ! sbt -batch test; then
    echo "*** FAILED TESTS IN TRIAL $i"
    exit 1
  fi
done
echo "*** PASSED ALL $runs TESTING TRIALS"
