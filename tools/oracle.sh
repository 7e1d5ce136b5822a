#!/usr/bin/env bash
# The correctness gate in one command: graft.Verify dumps every gate (or
# only the comma-separated gates given as the one argument), then
# tools/check_oracle.py diffs each against its DuckDB oracle SQL.
#
#   tools/oracle.sh                         # all gates
#   tools/oracle.sh q_spatial_join,q_knn    # just these
#
# Prints Verify's "[verify] N failed: …" line, every non-OK oracle line and
# the FAILS total; exits non-zero when a gate threw or a result differs.
# SPARK_GRAFT_SF_DIR picks the dataset (default ~/testdata/sf0.01). The
# dump, with its oracle_sql.json, is left in target/oracle; the two logs
# beside it.
set -uo pipefail
cd "$(dirname "$0")/.."
sf="${SPARK_GRAFT_SF_DIR:-$HOME/testdata/sf0.01}"
out=target/oracle
rm -rf "$out"
mkdir -p target
if ! sbt -batch "runMain graft.Verify $sf $out ${1:-}" > "$out.verify.log" 2>&1; then
  tail -n 40 "$out.verify.log"
  echo "oracle.sh: Verify did not finish (see $out.verify.log)" >&2
  exit 2
fi
verify=$(grep -o '\[verify\] [0-9]* failed:.*' "$out.verify.log" | tail -n 1)
echo "${verify:-oracle.sh: no [verify] summary line in $out.verify.log}"
python3 tools/check_oracle.py "$sf" "$out" ${1:+"$1"} > "$out.check.log"
check=$?
echo "$(grep -c ': OK' "$out.check.log") OK"
grep -v ': OK' "$out.check.log"
[[ $check -eq 0 && $verify == "[verify] 0 failed:"* ]]
