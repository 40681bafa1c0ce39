#!/usr/bin/env bash
# Paired benchmark runs of a parent revision against a change revision.
#
#   tools/perf_pairs.sh [-c <change-rev>] <parent-rev> <workload> <seed>...
#
# Unpacks `git archive` of both revisions into a temporary directory, so
# that neither side runs in a long-used working tree. The change revision
# defaults to `git stash create` (the tracked files of the working tree,
# committed changes and uncommitted edits alike) when the tree has
# uncommitted changes, else HEAD. Untracked files are in neither side.
# Then for each seed runs `python3 perfbench/run.py --seconds 20
# --trace 0` once per side, one run at a time; the side that runs first
# alternates from seed to seed. Host steal time is read from /proc/stat
# around every run. Prints both revisions and each run's result, then per
# end-to-end metric both sides' median and quartiles and how many pairs
# the change won. Exits non-zero if any run fails or reports
# `correct: false` or `failed` > 0. Each side builds into its own
# checkout's .bench_build; nothing is written under perfbench/.
set -euo pipefail

usage="usage: $0 [-c <change-rev>] <parent-rev> <workload> <seed>...
(the change defaults to the working tree's tracked files; untracked files
are not included)"
here=$(git rev-parse --show-toplevel)
change_rev=
if [ "${1:-}" = "-c" ]; then
  change_rev=${2:?$usage}
  shift 2
fi
if [ $# -lt 3 ]; then
  echo "$usage" >&2
  exit 2
fi
rev=$1 workload=$2
shift 2
if [ -z "$change_rev" ]; then
  change_rev=$(git -C "$here" stash create)
  change_rev=${change_rev:-HEAD}
fi
tmp=$(mktemp -d "${TMPDIR:-/tmp}/perf_pairs.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
parent=$tmp/parent change=$tmp/change results=$tmp/results
mkdir "$parent" "$change"
git -C "$here" archive "$rev" | tar -x -C "$parent"
git -C "$here" archive "$change_rev" | tar -x -C "$change"
echo "parent $(git -C "$here" rev-parse "$rev"), change $(git -C "$here" rev-parse "$change_rev")"
: > "$results"
# a shared build directory would rebuild on every switch of side
unset CARGO_TARGET_DIR

# "<steal> <total>" jiffies of all CPUs
jiffies() { awk '/^cpu / {t = 0; for (i = 2; i <= 9; i++) t += $i; print $9, t}' /proc/stat; }

status=0
run() { # side dir seed
  local s0 s1 out
  read -r -a s0 <<< "$(jiffies)"
  if ! out=$(cd "$2" && python3 perfbench/run.py --workload "$workload" \
      --seed "$3" --seconds 20 --trace 0 | tail -n 1); then
    echo "$1 seed=$3: run failed" >&2
    status=1
    return
  fi
  read -r -a s1 <<< "$(jiffies)"
  local steal
  steal=$(awk -v a="${s0[0]}" -v b="${s1[0]}" -v c="${s0[1]}" -v d="${s1[1]}" \
    'BEGIN {printf "%.2f", (d > c) ? 100 * (b - a) / (d - c) : 0}')
  echo "$1 seed=$3 steal=$steal% $out"
  printf '%s\t%s\t%s\t%s\n' "$1" "$3" "$steal" "$out" >> "$results"
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$results" "$change/BENCHMARK.json" <<'EOF' || status=1
import json, statistics, sys

rows = [l.rstrip("\n").split("\t", 3) for l in open(sys.argv[1]) if l.strip()]
spec = json.load(open(sys.argv[2]))
runs = {}
bad = []
for side, seed, steal, out in rows:
    r = json.loads(out)
    runs[(side, seed)] = r
    if not r.get("correct") or r.get("failed", 1) > 0:
        bad.append(f"{side} seed={seed}: correct={r.get('correct')} failed={r.get('failed')}")

def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

seeds = sorted({s for _, s in runs}, key=int)
pairs = [s for s in seeds if ("parent", s) in runs and ("change", s) in runs]
print(f"{len(pairs)} pairs; median (q1-q3), parent -> change; change wins")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    val = lambda side, s: runs[(side, s)]["metrics"][name]["value"]
    p = [val("parent", s) for s in pairs]
    c = [val("change", s) for s in pairs]
    if not p:
        continue
    wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    (p1, pm, p3), (c1, cm, c3) = quart(p), quart(c)
    rel = (cm - pm) / pm * 100 if pm else 0.0
    print(f"{name:22s} {pm:.4g} ({p1:.4g}-{p3:.4g}) -> {cm:.4g} ({c1:.4g}-{c3:.4g})"
          f"  {rel:+.1f}%  wins {wins}/{len(pairs)}")
steals = [float(st) for _, _, st, _ in rows]
if steals:
    print(f"steal: {min(steals):.2f}-{max(steals):.2f}% over {len(steals)} runs")
for b in bad:
    print("BAD RUN " + b)
sys.exit(1 if bad else 0)
EOF
exit $status
