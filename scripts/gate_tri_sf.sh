#!/usr/bin/env bash
# Tri-SF oracle gate: one entry point for the full correctness sweep the
# round-13 rounding class proved necessary — the driver only gates sf0.01,
# and the q_quality_score decimal-half divergence was INVISIBLE there (it
# needed an sf0.1 row landing exactly on a printed .5 boundary). Running
# Verify + check_oracle.py at ALL THREE fixture SFs keeps that class of
# boundary-only divergences structurally caught.
#
# Usage: scripts/gate_tri_sf.sh [outRoot] [lane...]   (default /tmp/graft_gate)
# With lane names, Verify dumps and check_oracle.py checks only those
# lanes; with none, all declared lanes.
# Exit 0 iff every declared (or named) oracle passes at every SF.
set -u
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/graft_gate}"
shift $(( $# > 0 ? 1 : 0 ))
LANES="$*"
mkdir -p "$OUT"
fail=0
for sf in sf0.001 sf0.01 sf0.1; do
  dir="/root/testdata/$sf"
  out="$OUT/$sf"
  rm -rf "$out"
  echo "== Verify @ $sf"
  sbt "runMain graft.Verify $dir $out $LANES" >"$OUT/verify_$sf.log" 2>&1 || {
    echo "VERIFY FAILED @ $sf (see $OUT/verify_$sf.log)"; fail=1; continue; }
  echo "== Oracle gate @ $sf"
  # rely on check_oracle.py's exit status (1 on any failure), not on the
  # wording of its summary line — the old grep for ", 0 fail" broke if
  # the print format changed (round-14 ADVICE)
  if ! python3 scripts/check_oracle.py "$dir" "$out" >"$OUT/oracle_$sf.log" 2>&1; then
    fail=1
  fi
  grep -E "FAIL|==" "$OUT/oracle_$sf.log" || true
done
if [ "$fail" -eq 0 ]; then echo "TRI-SF GATE: ALL PASS"; else echo "TRI-SF GATE: FAILURES"; fi
exit $fail
