#!/usr/bin/env bash
# Round-close gate: run the FULL verification stack against the current
# working tree and refuse to pass on any red. The final commit of a round
# must be made only after this exits 0 — three rounds in a row (r7-r9)
# shipped a last commit that had never run the suite.
#
# Usage: dev/roundclose.sh [sfdir]   (default /root/testdata/sf0.01)
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT=/tmp/roundclose_verify

fail() { echo "ROUNDCLOSE: RED — $1" >&2; exit 1; }

echo "== roundclose: sbt test =="
sbt -batch test > /tmp/roundclose_test.log 2>&1 \
  || { tail -40 /tmp/roundclose_test.log; fail "sbt test failed"; }
grep -E "Tests: succeeded [0-9]+, failed 0" /tmp/roundclose_test.log >/dev/null \
  || { tail -40 /tmp/roundclose_test.log; fail "could not confirm 0 test failures"; }

echo "== roundclose: graft.Verify @ $SF =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" > /tmp/roundclose_verify.log 2>&1 \
  || { tail -40 /tmp/roundclose_verify.log; fail "graft.Verify failed"; }
# Verify records per-query failures in errors.json (exit stays 0 for the
# driver's sake) — an empty object is the only green state.
[ "$(cat "$OUT/errors.json" 2>/dev/null)" = "{}" ] \
  || { cat "$OUT/errors.json" 2>/dev/null; fail "graft.Verify recorded query errors"; }

# A gate whose check fails names it on stderr (graft.Gate.all):
#   graft: gate <query> check <check> failed
# Fail on those here, by name, before the oracle compare reports the same
# failure as a pinned-true row that reads false.
grep -E "^graft: gate [a-z0-9_]+ check .+ failed$" /tmp/roundclose_verify.log \
  && fail "gate checks failed (listed above)"

echo "== roundclose: dev/check.py (DuckDB oracle) =="
python3 dev/check.py "$SF" "$OUT" > /tmp/roundclose_check.log 2>&1 \
  || { tail -40 /tmp/roundclose_check.log; fail "oracle check failed"; }
tail -3 /tmp/roundclose_check.log

echo "ROUNDCLOSE: GREEN — safe to make the final commit"
