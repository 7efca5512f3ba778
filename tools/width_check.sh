#!/usr/bin/env bash
# Width check: a query result must not depend on the kernel width.
#
# Runs graft.Verify over one testdata scale twice, with SPARK_GRAFT_CPUS=1 and
# SPARK_GRAFT_CPUS=32, checks each dump against the DuckDB oracle with
# tools/compare.py, then requires the two oracle_sql.json files to be
# byte-identical. Two full Verify runs take minutes, so this is a script to
# run by hand (or once per change to the engine), not a unit test.
#
# Usage (from the repository root):
#   tools/width_check.sh <sfDir> [workDir]
#     sfDir    a testdata scale directory, e.g. .../testdata/sf0.01
#     workDir  where the two dumps go (default: a fresh temp dir)
# Exit status 0 only when both dumps pass and the oracle files match.
set -euo pipefail

if [ $# -lt 1 ]; then
  echo "usage: $0 <sfDir> [workDir]" >&2
  exit 2
fi
sf="$1"
work="${2:-$(mktemp -d -t graft-width-XXXXXX)}"
cd "$(dirname "$0")/.."

status=0
for cpus in 1 32; do
  out="$work/cpus$cpus"
  rm -rf "$out"
  echo "[width] Verify at SPARK_GRAFT_CPUS=$cpus -> $out"
  SPARK_GRAFT_CPUS=$cpus sbt -batch "runMain graft.Verify $sf $out" \
    > "$work/verify_cpus$cpus.log" 2>&1
  if grep -q '\[verify\] .* failed:' "$work/verify_cpus$cpus.log"; then
    grep '\[verify\] .* failed:' "$work/verify_cpus$cpus.log" >&2
    status=1
  fi
  echo "[width] compare at SPARK_GRAFT_CPUS=$cpus"
  python3 tools/compare.py "$sf" "$out" | tail -n 3 || status=1
done

if cmp "$work/cpus1/oracle_sql.json" "$work/cpus32/oracle_sql.json"; then
  echo "[width] oracle_sql.json identical at widths 1 and 32"
else
  status=1
fi
[ $status -eq 0 ] && echo "[width] PASS ($work)" || echo "[width] FAIL ($work)"
exit $status
