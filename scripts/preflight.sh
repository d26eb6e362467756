#!/usr/bin/env bash
# Snapshot guardrail (r14 verdict ask #8, after the r13 red round): a
# mechanical gate that MUST be green before any substantial commit —
# lint the scaladoc (no doc block stacked on another) and the reads (no
# parquet read outside graft.Tables.read, no temp view, `.sql(` or
# `udf.register(` in the program, no integer-literal width on
# `repartition(`, `repartitionByRange(` or `coalesce(`), compile the
# program with its specs and the perfbench harness (both reference
# program names, so a deletion that breaks either fails here), full
# test suite skipped by design, and Verify -> DuckDB compare at sf0.001
# end to end.
#
# Usage: scripts/preflight.sh [sfDir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.001}"
OUT_DIR="$(mktemp -d /tmp/preflight.XXXXXX)"
echo "[preflight] lint: no orphaned scaladoc"
python3 scripts/lint_scaladoc.py src perfbench/src
echo "[preflight] lint: parquet reads only through graft.Tables.read; no session-catalog use; no fixed width"
python3 scripts/lint_reads.py src/main
echo "[preflight] compile program + specs"
sbt -batch Test/compile
echo "[preflight] compile perfbench"
(cd perfbench && sbt -batch compile)
echo "[preflight] verify dump at $SF_DIR"
# Verify exits 1 when any query threw (after writing every other one and
# listing the failed names), which stops this script here; its stderr is
# kept for the fixpoint report below
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" 2> >(tee "$OUT_DIR/verify.stderr" >&2)
echo "[preflight] oracle compare"
# every FAIL line with its detail rows, then the summary
python3 scripts/check.py "$SF_DIR" "$OUT_DIR" | grep -v -E '^(PASS|SKIP) '
# report only: a loop whose round budget bound before its fixpoint
echo "[preflight] unconverged fixpoints"
grep -E "fixpoint '.+' hit its [0-9]+-round budget unconverged" "$OUT_DIR/verify.stderr" || echo "none"
echo "[preflight] GREEN"
