#!/bin/bash
# Round-end preflight — the one command to run before trusting a round's
# artifacts. Fails loudly on ANY of the regression classes that caused
# blind or red rounds:
#   r4/r5: a single slow oracle zeroed the driver's whole correctness
#          artifact            -> time_oracles.py budget check
#   r6:    a one-ulp libm shift flipped a floor(ln) oracle hash
#                              -> audit_libm_boundary.py perturbation test
#   r6:    a filtered Bench run clobbered the canonical BENCH_FULL.json
#                              -> bench_clobber_check.sh
# plus the always-on gates: full Verify vs DuckDB oracles, unit specs,
# and the plan census (PlanCheck --census) over every gate.
# pipefail: a failing step piped into `tail` must still fail the script.
set -eo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/preflight_out}

echo "== 1/6 full Verify at $SF"
rm -rf "$OUT"
SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify $SF $OUT" >/dev/null 2>&1
err=$(find "$OUT" -maxdepth 1 -name "*.err.txt" | wc -l)
if [ "$err" != "0" ]; then echo "FAIL: $err query error markers"; ls "$OUT"/*.err.txt; exit 1; fi

echo "== 2/6 oracle compare"
python3 scripts/check_oracle.py "$SF" "$OUT" | tail -2

echo "== 3/6 oracle timing budget (20 s)"
python3 scripts/time_oracles.py "$SF" "$OUT" 20 | tail -1

echo "== 4/6 libm boundary perturbation audit"
python3 scripts/audit_libm_boundary.py "$SF" "$OUT" | tail -1

echo "== 5/6 plan census at $SF (every gate, synthetic plan and pin)"
census=$(mktemp)
if ! SPARK_GRAFT_SF_DIR="$SF" sbt -batch "runMain graft.PlanCheck --census" >"$census" 2>&1; then
  grep -E "^CENSUS (FAIL|STALE|ERR)" "$census" || tail -20 "$census"; exit 1; fi
echo "$(grep -c "^CENSUS" "$census") census rows, none bad"
rm -f "$census"

echo "== 6/6 unit specs"
sbt -batch test 2>&1 | tail -2

echo "PREFLIGHT OK"
