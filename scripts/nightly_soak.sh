#!/bin/bash
# Nightly dwweek soak profile (SCALE.md "Nightly dwweek profile";
# reference: utils/scenarios/dwweek/test/dwControlNightly.sh — the
# week-of-nightly-loads scenario with failures along the way).
#
# Runs warmup + 7 concurrent load+query cycles with 2 kill-9
# writer-crash drills and NOTHING else (~3 min at sf0.1), printing the
# bench's self-validating JSON line. A CI nightly should run exactly
# this script.
#
# Usage: scripts/nightly_soak.sh [round]
#   round — optional; when given, the full-precision artifact
#           (bench_out.json) is copied to SOAK_NIGHTLY_r<round>.json,
#           the committed artifact-of-record convention.
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
#      SPARK_GRAFT_CPUS (default: the machine's core count).
set -e
cd "$(dirname "$0")/.."
ROUND="${1:-}"
SPARK_GRAFT_SOAK_ONLY=1 \
SPARK_GRAFT_SOAK_CYCLES=7 \
SPARK_GRAFT_SOAK_CRASH_DRILLS=2 \
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  scripts/run_class.sh graft.Bench
if [ -n "$ROUND" ]; then
  cp bench_out.json "SOAK_NIGHTLY_r${ROUND}.json"
  echo "wrote SOAK_NIGHTLY_r${ROUND}.json" >&2
fi
