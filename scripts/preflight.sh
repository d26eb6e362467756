#!/usr/bin/env bash
# Snapshot guardrail (r14 verdict ask #8, after the r13 red round): a
# mechanical gate that MUST be green before any substantial commit —
# compile the program with its specs and the perfbench harness (both
# reference program names, so a deletion that breaks either fails
# here), full test suite skipped by design, and Verify -> DuckDB
# compare at sf0.001 end to end.
#
# Usage: scripts/preflight.sh [sfDir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.001}"
OUT_DIR="$(mktemp -d /tmp/preflight.XXXXXX)"
echo "[preflight] compile program + specs"
sbt -batch Test/compile
echo "[preflight] compile perfbench"
(cd perfbench && sbt -batch compile)
echo "[preflight] verify dump at $SF_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"
echo "[preflight] oracle compare"
python3 scripts/check.py "$SF_DIR" "$OUT_DIR" | tail -3
echo "[preflight] GREEN"
