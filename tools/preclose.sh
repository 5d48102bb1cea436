#!/usr/bin/env bash
# Round-close gate: refuse to snapshot-commit a tree that does not compile.
#
# Round 8 shipped HEAD with a non-compiling file written in the final
# minutes and committed without a build — which zeroed the driver's
# CORRECTNESS/BENCH artifacts for the whole round. This script is the
# mechanical guard: run it IMMEDIATELY before any end-of-round commit.
#
#   tools/preclose.sh            # main + test compile gate (minimum)
#   tools/preclose.sh --test     # compile + full ScalaTest suite
#
# Exit code 0 = safe to commit. Anything else = DO NOT COMMIT.
set -euo pipefail
cd "$(dirname "$0")/.."

# Test/compile, not compile: a spec that still imports a deleted main must
# fail the gate too.
echo "[preclose] sbt Test/compile..."
sbt -batch Test/compile > /tmp/preclose_compile.log 2>&1 || {
  echo "[preclose] COMPILE FAILED — do not commit. Tail of log:"
  tail -20 /tmp/preclose_compile.log
  exit 1
}
echo "[preclose] compile green."

if [[ "${1:-}" == "--test" ]]; then
  echo "[preclose] sbt test..."
  sbt -batch test > /tmp/preclose_test.log 2>&1 || {
    echo "[preclose] TESTS FAILED — do not commit. Tail of log:"
    tail -30 /tmp/preclose_test.log
    exit 1
  }
  grep -E "Tests: succeeded" /tmp/preclose_test.log | tail -1
  echo "[preclose] tests green."
fi

echo "[preclose] OK to commit."
