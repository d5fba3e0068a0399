#!/usr/bin/env bash
# Amplified-scale run: the registered queries, their DuckDB oracle and
# the bench at N times the fixture rows.
#
#   scripts/smoke.sh <verify-sf> <bench-sf> [N] [out-dir] [record]
#
#   verify-sf  sf directory the oracle run amplifies (e.g. sf0.01)
#   bench-sf   sf directory the bench run amplifies (e.g. sf0.1)
#   N          copies, default 10
#   out-dir    copies, dumps and logs; default a new temporary directory
#   record     the query subsets to run, default SCALE_x10.json: the keys
#              of its "verify"."queries" and "bench"."queries"
#
# Steps:
#   1. graft.Amplify writes N copies of both sf directories.
#   2. graft.Verify runs the oracle subset over the N-fold copy of
#      <verify-sf> with SPARK_GRAFT_LAW_LOG=1, and scripts/check.py
#      compares its dumps with DuckDB.
#   3. graft.Bench runs the bench subset over <bench-sf> (1x) and over
#      its N-fold copy. SPARK_GRAFT_CPUS sets the cores, as for Bench.
#   4. <out-dir>/scale.json gets, per query, check.py's status, the
#      DuckDB seconds and the law windows that ran armed and unarmed,
#      and the bench seconds at 1x and Nx with their ratio.
#
# Every check below fails the run loudly (exit 1):
#   - each sbt run's own exit status, under pipefail;
#   - a main-thread crash or a nonzero forked exit in its log;
#   - at least one result row: a `[verify] <q> ok` line, or a timed
#     bench query;
#   - the end sentinel: each Bench run ends with its metric line;
#   - check.py's exit status;
#   - at least one `[law] ... armed=false` line, so the run reached the
#     unarmed path (AQE on, session partitions) that large inputs take.
set -euo pipefail

if [ $# -lt 2 ]; then
  sed -n '2,13p' "$0" >&2
  exit 2
fi
root="$(cd "$(dirname "$0")/.." && pwd)"
vsrc="$(cd "$1" && pwd)" bsrc="$(cd "$2" && pwd)"
n="${3:-10}"
out="${4:-$(mktemp -d "${TMPDIR:-/tmp}/smoke.XXXXXX")}"
record="${5:-$root/SCALE_x10.json}"
mkdir -p "$out"
out="$(cd "$out" && pwd)"
cd "$root"
subset() { python3 -c 'import json, sys
print(",".join(sorted(json.load(open(sys.argv[1]))[sys.argv[2]]["queries"])))' \
  "$record" "$1"; }
vq="$(subset verify)" bq="$(subset bench)"
vamp="$out/$(basename "$vsrc")x$n" bamp="$out/$(basename "$bsrc")x$n"
echo "smoke.sh: N=$n, out $out"

fail() { echo "smoke.sh: FAILED — $1" >&2; [ -f "${2:-}" ] && tail -20 "$2" >&2; exit 1; }

# sbt_run <log> <show-regex> <sbt command>...: runs sbt with the full
# log kept in <log> while lines matching <show-regex> stream. The grep
# guard (grep exits 1 when a crashed run printed nothing that matches)
# lives INSIDE the last pipeline segment: a trailing `|| true` on the
# pipeline itself binds to the WHOLE pipeline and defeats pipefail, so
# a nonzero sbt exit would pass silently. With the guard inside,
# pipefail's verdict is sbt's own status.
sbt_run() {
  local log=$1 show=$2; shift 2
  if ! sbt -batch "$@" 2>&1 | tee "$log" \
      | { grep --line-buffered -E "$show" || true; }; then
    fail "sbt exited nonzero ($(basename "$log"))" "$log"
  fi
  # Narrow content scan for failures sbt might soften. Broad '[error]'
  # matching is wrong: sbt prefixes the forked JVM's stderr with
  # [error], and Spark prints benign executor-shutdown races there.
  if grep -qE 'Exception in thread "main"|Nonzero exit code' "$log"; then
    grep -E 'Exception in thread "main"|Nonzero exit code' "$log" | head -5 >&2
    fail "main-thread failure in $(basename "$log")"
  fi
}

sbt_run "$out/amplify.log" '\[amplify\]' \
  "runMain graft.Amplify $vsrc $vamp $n" "runMain graft.Amplify $bsrc $bamp $n"

SPARK_GRAFT_LAW_LOG=1 sbt_run "$out/verify.log" '\[verify\]' \
  "runMain graft.Verify $vamp $out/verify $vq"
grep -qE '\[verify\] q_[a-z0-9_]+ ok' "$out/verify.log" \
  || fail "Verify wrote no result" "$out/verify.log"
unarmed=$(grep -c '\[law\] .* armed=false' "$out/verify.log" || true)
echo "smoke.sh: $unarmed law windows ran unarmed"
[ "$unarmed" -gt 0 ] || fail "no law window ran unarmed; raise N"
# an oracle mismatch fails the run at the end, after the bench has run
check=0
python3 scripts/check.py "$vamp" "$out/verify" "$vq" | tee "$out/check.log" \
  || check=$?

bench() { # <tag> <sf-dir>
  SPARK_GRAFT_SF_DIR="$2" SPARK_GRAFT_ONLY="$bq" \
    sbt_run "$out/bench_$1.log" '^\{"metric"' "runMain graft.Bench"
  tail -1 "$out/bench_$1.log" | grep -q '^{"metric":"total"' \
    || fail "Bench $1 ended before its metric line" "$out/bench_$1.log"
  head -1 bench_local.json | grep -qE '"q_[a-z0-9_]+":[0-9]' \
    || fail "Bench $1 timed no query" "$out/bench_$1.log"
  cp bench_local.json "$out/bench_$1.json"
}
bench 1x "$bsrc"
bench "${n}x" "$bamp"

python3 - "$out" "$n" <<'EOF'
import json, re, sys
out, n = sys.argv[1], sys.argv[2]
verify, law = {}, []
for line in open(f"{out}/verify.log", errors="replace"):
    m = re.search(r"\[law\] rows=\d+ armed=(true|false)", line)
    if m:
        law.append(m.group(1) == "true")
        continue
    m = re.search(r"\[verify\] (q_[a-z0-9_]+) (?:ok ([0-9.]+) s|failed)", line)
    if m:
        verify[m.group(1)] = {"spark_s": m.group(2) and float(m.group(2)),
                              "armed": law.count(True), "unarmed": law.count(False)}
        law = []
for line in open(f"{out}/check.log"):
    m = re.match(r"(OK|FAIL) +(q_[a-z0-9_]+)\b(.*?)(?: \[duck ([0-9.]+) s\])?$", line.rstrip())
    if m:
        q = verify.setdefault(m.group(2), {})
        q["check"] = m.group(1) if m.group(1) == "OK" else "FAIL" + m.group(3)
        q["duck_s"] = float(m.group(4)) if m.group(4) else None
def times(tag):
    return json.loads(open(f"{out}/bench_{tag}.json").readline())["queries"]
one, amp = times("1x"), times(f"{n}x")
bench = {q: {"s_1x": one[q], f"s_{n}x": amp.get(q),
             "ratio": round(amp[q] / one[q], 2)
             if all(isinstance(x.get(q), (int, float)) for x in (one, amp)) else None}
         for q in sorted(one)}
json.dump({"verify": {"queries": verify}, "bench": {"queries": bench}},
          open(f"{out}/scale.json", "w"), indent=1, sort_keys=True)
fails = sum(1 for v in verify.values() if v.get("check", "").startswith("FAIL"))
print(f"smoke.sh: {len(verify)} oracle queries ({fails} fail), "
      f"{len(bench)} bench queries; {out}/scale.json")
EOF
[ "$check" -eq 0 ] || fail "check.py found oracle mismatches (exit $check)"
echo "smoke.sh: OK"
