#!/usr/bin/env bash
# Per-suite test counts and wall seconds from the last sbt test run.
#
#   tools/suite_times.sh [report-dir]
#
# Reads the JUnit reports sbt leaves in target/test-reports/TEST-*.xml
# (or in report-dir), prints one line per suite (tests, seconds, name)
# sorted by seconds, slowest first, then the total tests and seconds.
# sbt never deletes a report, so only reports of suites still defined
# under src/test count; the stale ones are skipped and their number
# printed. Exits non-zero when there are no reports or any report counts
# a failure or an error. Writes nothing.
set -euo pipefail

top=$(git rev-parse --show-toplevel)
dir=${1:-$top/target/test-reports}
shopt -s nullglob
# <package>.<class> of every class under src/test
suites=$(find "$top/src/test" -name '*.scala' -exec awk '
  /^package / { pkg = $2 }
  match($0, /^(final |abstract )?class [A-Za-z0-9_]+/) {
    n = split(substr($0, RSTART, RLENGTH), w, " "); print pkg "." w[n]
  }' {} + | sort -u)
reports=() stale=0
for r in "$dir"/TEST-*.xml; do
  name=$(basename "$r" .xml)
  if grep -qxF "${name#TEST-}" <<< "$suites"; then reports+=("$r"); else stale=$((stale + 1)); fi
done
echo "skipped $stale stale reports of suites no longer under src/test" >&2
if [ ${#reports[@]} -eq 0 ]; then
  echo "no reports in $dir" >&2
  exit 1
fi

awk -v sort='sort -k2,2 -g -r' '
  # value of attribute k in the current <testsuite ...> line
  function attr(k) {
    if (!match($0, " " k "=\"[^\"]*\"")) return ""
    return substr($0, RSTART + length(k) + 3, RLENGTH - length(k) - 4)
  }
  /<testsuite / && !seen[FILENAME]++ {
    name = attr("name"); tests = attr("tests") + 0; secs = attr("time") + 0
    bad = attr("failures") + attr("errors")
    printf "%5d %9.3f %s\n", tests, secs, name | sort
    total += tests; time += secs
    if (bad > 0) { failed += bad; printf "%s: %d failures or errors\n", name, bad > "/dev/stderr" }
  }
  END {
    close(sort)
    printf "total %d tests %.1f s\n", total, time
    exit failed > 0 ? 1 : 0
  }
' "${reports[@]}"
