#!/bin/bash
# A/B the zonal-service benchmark (perfbench/) between two commits.
#
#   scripts/perfbench_ab.sh <parent-rev> <out-dir> [<change-rev>] [--pairs N]
#
# <change-rev> defaults to HEAD. Each side is exported with `git archive`
# into <out-dir>/parent and <out-dir>/change: fresh trees with no target/,
# so neither build reuses another checkout's classes and each side's
# catalog is written by its own writer. (Copying a built checkout does
# not work: zinc's analysis stores absolute paths, and building the copy
# deletes the original's class files.)
#
# For seeds 1..N (N = --pairs, default 3) and the workloads huc8_run and
# huc12_http it runs
#   python3 perfbench/run.py --workload W --seed S --seconds 25
# once per side, the parent first on odd seeds and the change first on
# even ones, and keeps each result line as <out-dir>/<side>-<W>-<S>.json.
# It then prints each run's latency_p50_ms with the host CPU steal the run
# saw (detail.cpu_steal_pct, the second-to-last stdout line), flagging
# every pair where either side saw at least 5% steal, and, per workload
# and end-to-end metric, each side's median and quartiles, how many pairs
# the change won (ties count for neither side), and whether the gain rule
# holds: the change wins at least 9 in 10 pairs and the medians differ by
# more than the parent's interquartile range (claim a gain only from at
# least 10 pairs). Which direction is better comes from BENCHMARK.json.
# It exits non-zero if a run failed or reported `correct: false`.
# Temporary files go under <out-dir>.
set -uo pipefail
usage() { echo "usage: $0 <parent-rev> <out-dir> [<change-rev>] [--pairs N]" >&2; exit 2; }
pairs=3
args=()
while [ $# -gt 0 ]; do
  case "$1" in
    --pairs) [ $# -ge 2 ] || usage; pairs="$2"; shift 2 ;;
    *) args+=("$1"); shift ;;
  esac
done
[[ "$pairs" =~ ^[1-9][0-9]*$ ]] || usage
{ [ ${#args[@]} -ge 2 ] && [ ${#args[@]} -le 3 ]; } || usage
repo="$(cd "$(dirname "$0")/.." && pwd)"
parent=$(git -C "$repo" rev-parse --verify "${args[0]}^{commit}") || exit 2
change=$(git -C "$repo" rev-parse --verify "${args[2]:-HEAD}^{commit}") || exit 2
out="${args[1]}"
mkdir -p "$out" && out="$(cd "$out" && pwd)"
for side in parent change; do
  mkdir "$out/$side" || { echo "$out/$side exists; use a fresh <out-dir>" >&2; exit 2; }
done
git -C "$repo" archive "$parent" | tar -x -C "$out/parent"
git -C "$repo" archive "$change" | tar -x -C "$out/change"
mkdir -p "$out/tmp"
export TMPDIR="$out/tmp" JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$out/tmp"
echo "parent $parent, change $change, $pairs pairs, results in $out"

failed=0
for w in huc8_run huc12_http; do
  for seed in $(seq 1 "$pairs"); do
    if [ $((seed % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
    for side in $order; do
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

python3 - "$out" "$repo/BENCHMARK.json" <<'EOF' || failed=1
import glob, json, os, statistics, sys
out, bench = sys.argv[1], sys.argv[2]
STEAL_PCT = 5.0  # a pair where either side saw this much host steal is suspect
WIN_SHARE = 0.9  # the change must win this share of the pairs to claim a gain
nan = float("nan")
lower_better = {m["name"]: m["better"] == "lower" for m in json.load(open(bench))["end_to_end"]}

def steal(side, w, seed):
    """detail.cpu_steal_pct from the run's second-to-last stdout line."""
    try:
        with open(os.path.join(out, f"{side}-{w}-{seed}.out")) as f:
            return json.loads(f.read().splitlines()[-2])["detail"]["cpu_steal_pct"]
    except (OSError, IndexError, KeyError, ValueError):
        return nan

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (nan, nan)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]

bad, vals, steals = 0, {}, {}
for path in sorted(glob.glob(os.path.join(out, "*-*-*.json"))):
    side, w, seed = os.path.basename(path)[:-5].rsplit("-", 2)
    r = json.load(open(path))
    if not r.get("correct"):
        print(f"FAIL: {side} {w} seed {seed} reported correct: false")
        bad = 1
    for k, v in r["metrics"].items():
        vals.setdefault((w, k), {}).setdefault(int(seed), {})[side] = v["value"]
    steals.setdefault((w, int(seed)), {})[side] = steal(side, w, seed)
print(f"{'workload':<11} {'seed':>4} {'parent p50':>11} {'steal%':>7} {'change p50':>11} {'steal%':>7}")
for (w, seed), st in sorted(steals.items()):
    p50 = vals.get((w, "latency_p50_ms"), {}).get(seed, {})
    ps, cs = st.get("parent", nan), st.get("change", nan)
    flag = "  STEAL" if ps >= STEAL_PCT or cs >= STEAL_PCT else ""
    print(f"{w:<11} {seed:>4} {p50.get('parent', nan):>11.1f} {ps:>7.1f} "
          f"{p50.get('change', nan):>11.1f} {cs:>7.1f}{flag}")
print(f"(STEAL: either side saw >= {STEAL_PCT:.0f}% host CPU steal)")
print()
print(f"{'workload':<11} {'metric':<15} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
      f"{'chg/par':>8} {'wins':>6}  gain rule")
for (w, k), by_seed in sorted(vals.items()):
    pairs = [(s["parent"], s["change"]) for s in by_seed.values() if "parent" in s and "change" in s]
    p = [s["parent"] for s in by_seed.values() if "parent" in s]
    c = [s["change"] for s in by_seed.values() if "change" in s]
    pm = statistics.median(p) if p else nan
    cm = statistics.median(c) if c else nan
    (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
    rule = ""
    if k in lower_better:
        sign = -1 if lower_better[k] else 1
        wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
        met = wins >= WIN_SHARE * len(pairs) and sign * (cm - pm) > p3 - p1
        rule = f"{wins:>3}/{len(pairs):<2}  {'met' if met else 'not met'}"
    print(f"{w:<11} {k:<15} {p1:>8.2f} {pm:>8.2f} {p3:>8.2f} {c1:>8.2f} {cm:>8.2f} {c3:>8.2f} "
          f"{cm / pm if pm else nan:>8.3f} {rule}")
sys.exit(bad)
EOF
exit $failed
