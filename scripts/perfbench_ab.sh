#!/bin/bash
# A/B the zonal-service benchmark (perfbench/) between two commits.
#
#   scripts/perfbench_ab.sh <parent-rev> <out-dir> [<change-rev>]
#
# <change-rev> defaults to HEAD. Each side is exported with `git archive`
# into <out-dir>/parent and <out-dir>/change: fresh trees with no target/,
# so neither build reuses another checkout's classes. (Copying a built
# checkout does not work: zinc's analysis stores absolute paths, and
# building the copy deletes the original's class files.)
#
# For seeds 1-3 and the workloads huc8_run and huc12_http it runs
#   python3 perfbench/run.py --workload W --seed N --seconds 25
# in the parent, then in the change, alternating, and keeps each result
# line as <out-dir>/<side>-<W>-<N>.json. It then prints each run's
# latency_p50_ms with the host CPU steal the run saw (detail.cpu_steal_pct,
# the second-to-last stdout line), flags every pair where either side saw
# at least 5% steal, and prints, per workload and side, the median of every
# end-to-end metric. It exits non-zero if a run failed or reported
# `correct: false`. Temporary files go under <out-dir>.
set -uo pipefail
if [ $# -lt 2 ] || [ $# -gt 3 ]; then
  echo "usage: $0 <parent-rev> <out-dir> [<change-rev>]" >&2; exit 2
fi
repo="$(cd "$(dirname "$0")/.." && pwd)"
parent=$(git -C "$repo" rev-parse --verify "$1^{commit}") || exit 2
change=$(git -C "$repo" rev-parse --verify "${3:-HEAD}^{commit}") || exit 2
out="$2"
mkdir -p "$out" && out="$(cd "$out" && pwd)"
for side in parent change; do
  mkdir "$out/$side" || { echo "$out/$side exists; use a fresh <out-dir>" >&2; exit 2; }
done
git -C "$repo" archive "$parent" | tar -x -C "$out/parent"
git -C "$repo" archive "$change" | tar -x -C "$out/change"
mkdir -p "$out/tmp"
export TMPDIR="$out/tmp" JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$out/tmp"
echo "parent $parent, change $change, results in $out"

failed=0
for w in huc8_run huc12_http; do
  for seed in 1 2 3; do
    for side in parent change; do
      res="$out/$side-$w-$seed.json"
      if (cd "$out/$side" && python3 perfbench/run.py --workload "$w" --seed "$seed" \
            --seconds 25) >"$out/$side-$w-$seed.out" 2>"$out/$side-$w-$seed.err"; then
        tail -n 1 "$out/$side-$w-$seed.out" >"$res"
      else
        echo "FAIL: $side $w seed $seed exited non-zero (see $out/$side-$w-$seed.err)"
        failed=1
      fi
    done
  done
done

python3 - "$out" <<'EOF' || failed=1
import glob, json, os, statistics, sys
out = sys.argv[1]
STEAL_PCT = 5.0  # a pair where either side saw this much host steal is suspect
nan = float("nan")

def steal(side, w, seed):
    """detail.cpu_steal_pct from the run's second-to-last stdout line."""
    try:
        with open(os.path.join(out, f"{side}-{w}-{seed}.out")) as f:
            return json.loads(f.read().splitlines()[-2])["detail"]["cpu_steal_pct"]
    except (OSError, IndexError, KeyError, ValueError):
        return nan

bad, rows, runs = 0, {}, {}
for path in sorted(glob.glob(os.path.join(out, "*-*-*.json"))):
    side, w, seed = os.path.basename(path)[:-5].rsplit("-", 2)
    r = json.load(open(path))
    if not r.get("correct"):
        print(f"FAIL: {side} {w} seed {seed} reported correct: false")
        bad = 1
    for k, v in r["metrics"].items():
        rows.setdefault((w, k), {}).setdefault(side, []).append(v["value"])
    p50 = r["metrics"].get("latency_p50_ms", {}).get("value", nan)
    runs.setdefault((w, int(seed)), {})[side] = (p50, steal(side, w, seed))
print(f"{'workload':<11} {'seed':>4} {'parent p50':>11} {'steal%':>7} {'change p50':>11} {'steal%':>7}")
for (w, seed), by in sorted(runs.items()):
    p, c = by.get("parent", (nan, nan)), by.get("change", (nan, nan))
    flag = "  STEAL" if p[1] >= STEAL_PCT or c[1] >= STEAL_PCT else ""
    print(f"{w:<11} {seed:>4} {p[0]:>11.1f} {p[1]:>7.1f} {c[0]:>11.1f} {c[1]:>7.1f}{flag}")
print(f"(STEAL: either side saw >= {STEAL_PCT:.0f}% host CPU steal)")
print()
print(f"{'workload':<11} {'metric':<15} {'parent':>10} {'change':>10} {'change/parent':>14}")
for (w, k), by in sorted(rows.items()):
    p = statistics.median(by.get("parent", [float("nan")]))
    c = statistics.median(by.get("change", [float("nan")]))
    print(f"{w:<11} {k:<15} {p:>10.2f} {c:>10.2f} {c / p if p else float('nan'):>14.3f}")
sys.exit(bad)
EOF
exit $failed
