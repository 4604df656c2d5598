#!/bin/bash
# Round-6 judge item 3: assert that a FILTERED `graft.Bench qA` run
# cannot overwrite the canonical BENCH_FULL.json (it must write
# BENCH_FULL.partial.json instead), and that the run's last stdout line
# before sbt's `[success]` status is the canonical JSON (metric "total"
# with `n` and `failed`), so a reader of the stdout tail can parse it.
# Run from the repo root.
set -e
cd "$(dirname "$0")/.."
before=$(md5sum BENCH_FULL.json | cut -d' ' -f1)
rm -f BENCH_FULL.partial.json
out=$(mktemp)
trap 'rm -f "$out"' EXIT
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  sbt -batch "runMain graft.Bench q01_grouped_count" >"$out" 2>/dev/null
after=$(md5sum BENCH_FULL.json | cut -d' ' -f1)
if [ "$before" != "$after" ]; then
  echo "FAIL: filtered Bench run modified BENCH_FULL.json"; exit 1
fi
if [ ! -f BENCH_FULL.partial.json ]; then
  echo "FAIL: filtered Bench run did not write BENCH_FULL.partial.json"; exit 1
fi
rm -f BENCH_FULL.partial.json
python3 - "$out" <<'EOF'
import json, re, sys
lines = [re.sub(r"\x1b\[[0-9;]*m", "", l).rstrip("\n")
         for l in open(sys.argv[1], encoding="utf-8", errors="replace")]
ends = [i for i, l in enumerate(lines) if l.startswith("[success]")]
if not ends or ends[-1] == 0:
    sys.exit("FAIL: no stdout line before sbt's [success]")
last = lines[ends[-1] - 1]
try:
    j = json.loads(last)
except ValueError:
    sys.exit(f"FAIL: last line before [success] is not JSON: {last[:200]}")
if j.get("metric") != "total" or "n" not in j or "failed" not in j:
    sys.exit(f"FAIL: last line lacks metric=total/n/failed: {last[:200]}")
EOF
echo "OK: filtered Bench run left canonical BENCH_FULL.json untouched and ended stdout with the canonical line"
