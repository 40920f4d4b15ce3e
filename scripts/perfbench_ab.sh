#!/usr/bin/env bash
# Same-boot A/B of the engine benchmark (perfbench/): a base revision
# against this checkout, one seed per pair, pairs run back to back.
#
#   scripts/perfbench_ab.sh <base-rev> <workload> <seed>...
#
# The base revision is exported with `git archive` into
# ${TMPDIR:-/tmp}/perfbench_ab-<sha> (reused when it already exists;
# perfbench builds it into its own .bench_build/ on the first run).
# The new side is this checkout's working tree. For each seed both
# sides run `perfbench/run.py --workload <workload> --seed <seed>`; the
# side that goes first alternates from pair to pair (base first in the
# first pair). Each run's result line is kept under
# ${TMPDIR:-/tmp}/perfbench_ab-<sha>.results/<workload>/. At the end
# the script prints, per end-to-end metric, every pair (base, new,
# new/base) and a summary: both medians, their ratio, the base runs'
# interquartile range relative to their median, and how many pairs the
# new side won (each metric's better direction and bound are read from
# BENCHMARK.json, read-only here). Each metric ends with two verdicts:
# `claim` is met when the new side wins at least 9 of every 10 pairs
# and its median is better than the base's by more than the base IQR;
# `regression` is EXCEEDS when the new median is worse than the base's
# by more than the metric's relative bound, `unresolved` when it is not
# but the base IQR/median is wider than that bound and some new run
# reads no better than some base run, and none otherwise.
# A run that exits non-zero or whose last stdout line is not JSON is
# named (side, seed, .err path) when it fails; its pair is left out of
# the summary, and the script then exits 1.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <base-rev> <workload> <seed>..." >&2
  exit 2
fi
base_rev=$1
workload=$2
shift 2

root=$(git rev-parse --show-toplevel)
sha=$(git -C "$root" rev-parse --short=12 "$base_rev^{commit}")
base_dir="${TMPDIR:-/tmp}/perfbench_ab-$sha"
results="$base_dir.results/$workload"
if [ ! -d "$base_dir" ]; then
  mkdir -p "$base_dir.partial"
  git -C "$root" archive "$sha" | tar -x -C "$base_dir.partial"
  mv "$base_dir.partial" "$base_dir"
fi
mkdir -p "$results"

# run <side> <dir> <seed>: one benchmark run; its last stdout line
# (the result) goes to $results/<side>-<seed>.json, and a failed run
# leaves no result file
run() {
  local out="$results/$1-$3.json" status=0
  echo "== $1 seed $3 ($(date -u +%H:%M:%S))" >&2
  rm -f "$out"
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3") \
    > "$out.log" 2> "$out.err" || status=$?
  if [ "$status" -ne 0 ]; then
    echo "FAILED: $1 seed $3 exited $status; see $out.err" >&2
  elif ! tail -n 1 "$out.log" |
      python3 -c 'import json, sys; json.load(sys.stdin)' 2> /dev/null; then
    echo "FAILED: $1 seed $3 printed no JSON result line; see $out.err" >&2
  else
    tail -n 1 "$out.log" > "$out"
  fi
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run base "$base_dir" "$seed"
    run new "$root" "$seed"
  else
    run new "$root" "$seed"
    run base "$base_dir" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$root/BENCHMARK.json" "$results" "$@" <<'EOF'
import json, math, os, statistics, sys

spec, results, asked = sys.argv[1], sys.argv[2], sys.argv[3:]
declared = {m["name"]: m for m in json.load(open(spec))["end_to_end"]}
seeds = [s for s in asked
         if all(os.path.exists(f"{results}/{side}-{s}.json")
                for side in ("base", "new"))]
failed = [s for s in asked if s not in seeds]
if failed:
    print(f"pairs left out (a run failed, see FAILED above): seeds {failed}")
if not seeds:
    sys.exit(1)
runs = {side: [json.load(open(f"{results}/{side}-{s}.json")) for s in seeds]
        for side in ("base", "new")}
for side, rs in runs.items():
    bad = [(s, r["failed"]) for s, r in zip(seeds, rs) if not r["correct"]]
    print(f"{side}: {len(rs)} runs, incorrect: {bad or 'none'}")


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[2]


for name in runs["base"][0]["metrics"]:
    b = [r["metrics"][name]["value"] for r in runs["base"]]
    n = [r["metrics"][name]["value"] for r in runs["new"]]
    print(f"\n{name} ({runs['base'][0]['metrics'][name]['unit']})")
    print("  seed      base       new   new/base")
    for s, x, y in zip(seeds, b, n):
        print(f"  {s:>4} {x:9.3f} {y:9.3f} {y / x:10.3f}")
    mb, mn = statistics.median(b), statistics.median(n)
    q1, q3 = quartiles(b)
    # +1 when lower is better, so sign * (base - new) > 0 is a gain
    sign = 1 if declared[name]["better"] == "lower" else -1
    wins = sum(sign * (x - y) > 0 for x, y in zip(b, n))
    print(f"  median {mb:9.3f} {mn:9.3f} {mn / mb:10.3f}   "
          f"base IQR/median {(q3 - q1) / mb:.3f}   "
          f"new wins {wins}/{len(seeds)}")
    claim = (wins >= math.ceil(0.9 * len(seeds))
             and sign * (mb - mn) > q3 - q1)
    print(f"  claim: {'met' if claim else 'not met'} "
          f"(wins >= 9/10 of pairs and median gain > base IQR)")
    bound = declared[name]["bound"]
    worse = sign * (mn - mb) / mb
    # a base spread wider than the bound cannot tell "within bound"
    # from a regression, unless every new run beats every base run
    separated = all(sign * (x - y) > 0 for x in b for y in n)
    if worse > bound:
        verdict = "EXCEEDS"
    elif (q3 - q1) / mb > bound and not separated:
        verdict = "unresolved"
    else:
        verdict = "none"
    print(f"  regression: {verdict} "
          f"(new median {worse:+.3f} of base, bound {bound})")
sys.exit(1 if failed else 0)
EOF
