#!/usr/bin/env bash
# A/B of this checkout against a parent commit on one benchmark workload.
#
#   scripts/perf_ab.sh <parent-ref> <workload> <pairs>
#
# Exports <parent-ref> with `git archive` into a temporary directory
# (no worktree metadata is left in the repository) and runs
# `python3 perfbench/run.py` there and in this checkout, <pairs> times
# each. Pair i uses seed i on both sides; odd pairs run the parent
# first, even pairs the change, so drift in machine speed falls on both
# sides alike. Each side builds from its own sources on its first run.
# Run length is BENCHMARK.json's run_seconds on both sides.
#
# Prints, per end-to-end metric of BENCHMARK.json: each side's median
# and quartiles, the pairs the change won (ties count for neither), and
# whether a gain is shown: wins in at least nine tenths of the pairs and
# a difference of medians larger than the parent's interquartile range.
# Also prints failed operations per side. Every run's JSON line is kept
# in the printed results directory.
#
# Reads perfbench/ and BENCHMARK.json; edits neither.
set -euo pipefail

if [ $# -ne 3 ]; then
  echo "usage: $0 <parent-ref> <workload> <pairs>" >&2
  exit 2
fi
ref=$1 workload=$2 pairs=$3
root=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
out=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
parent="$out/parent"
mkdir -p "$parent"
git -C "$root" archive "$ref" | tar -x -C "$parent"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")
echo "perf_ab: $workload, $pairs pairs, ${seconds}s runs; parent $ref in $parent; results in $out"

run() { # side seed
  local dir=$root
  [ "$1" = parent ] && dir=$parent
  local log="$out/$1-$2.log"
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds" --trace 0) > "$log" 2>&1 || true
  local line
  line=$(grep '^{"correct"' "$log" | tail -1 || true)
  [ -n "$line" ] || line='{"failed_run": true}'
  echo "$line" > "$out/$1-$2.json"
  echo "perf_ab: pair $2 $1: $line" | cut -c1-200
}

for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) -eq 1 ]; then run parent "$i"; run change "$i"
  else run change "$i"; run parent "$i"; fi
done

python3 - "$root/BENCHMARK.json" "$out" "$pairs" <<'EOF'
import json, os, statistics, sys

spec, out, pairs = json.load(open(sys.argv[1])), sys.argv[2], int(sys.argv[3])

def load(side, i):
    with open(os.path.join(out, f"{side}-{i}.json")) as f:
        return json.load(f)

runs = {s: [load(s, i) for i in range(1, pairs + 1)] for s in ("parent", "change")}

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

for s, rs in runs.items():
    bad = sum(1 for r in rs if "metrics" not in r)
    failed = sum(r.get("failed", 0) for r in rs)
    attempted = sum(r.get("attempted", 0) for r in rs)
    print(f"{s}: {failed} of {attempted} ops failed; {bad} runs without a result")

print(f"{'metric':<10} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} {'wins':>7}  gain shown")
for m in spec["end_to_end"]:
    name, higher = m["name"], m["better"] == "higher"
    pv, cv, wins, n = [], [], 0, 0
    for p, c in zip(runs["parent"], runs["change"]):
        if "metrics" not in p or "metrics" not in c:
            continue
        a, b = p["metrics"][name]["value"], c["metrics"][name]["value"]
        pv.append(a); cv.append(b); n += 1
        wins += (b > a) if higher else (b < a)
    if not n:
        print(f"{name:<10} no complete pairs")
        continue
    (p1, pm, p3), (c1, cm, c3) = quartiles(pv), quartiles(cv)
    better = (cm - pm) if higher else (pm - cm)
    shown = wins >= 0.9 * pairs and better > (p3 - p1)
    print(f"{name:<10} {p1:8.4g}/{pm:8.4g}/{p3:8.4g} {c1:8.4g}/{cm:8.4g}/{c3:8.4g} "
          f"{wins:>3}/{n:<3}  {'yes' if shown else 'no'} "
          f"(median change {100 * (cm - pm) / pm:+.1f} %, parent IQR {p3 - p1:.4g})")
EOF
