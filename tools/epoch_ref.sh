#!/bin/bash
# Per-epoch budget re-baseline (VERDICT r16 -> r17 #2).
#
# The bench host's catalog throughput drifts ~15-20% between rounds at
# a constant CPU-canary reading (proven by BENCH_AB_r14code_on_r16_epoch
# .json: the same binary, 86.0 s on r14's day vs 102.6 s on r16's), so
# any FIXED raw-total budget goes dead the first time the epoch moves.
# This script rebuilds a PINNED reference commit in a worktree, runs its
# full Bench on this host NOW, and writes EPOCH.json; graft.Bench then
# evaluates the raw total budget against the SAME-EPOCH, SAME-HOST
# reference total (restricted to the query set both catalogs share, so
# new operators never read as regressions) instead of a cross-epoch
# constant. Re-run whenever seals drift from the pinned refs — the flag
# fires on code regressions and stays silent on epoch drift.
#
# Usage: tools/epoch_ref.sh            (defaults below)
#   EPOCH_PIN_COMMIT=<sha>             pinned reference commit
#   SPARK_GRAFT_SF_DIR=<dir>           bench scale dir
set -euo pipefail
PIN=${EPOCH_PIN_COMMIT:-9466123}   # r16 final seal: 182 queries + canary2
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
WT=${EPOCH_WORKTREE:-/tmp/graft_epoch_ref_wt}
cd /root/repo
git worktree remove -f "$WT" 2>/dev/null || true
git worktree add -f "$WT" "$PIN"
trap 'git -C /root/repo worktree remove -f "$WT" 2>/dev/null || true' EXIT
(cd "$WT" && sbt -batch compile)
(cd "$WT" && SPARK_GRAFT_SF_DIR="$SF" REPO_DIR="$WT" MAIN_CLASS=graft.Bench \
  bash /root/repo/tools/run_bench.sh) | grep '"metric"' | tail -1 \
  > /root/repo/EPOCH_REF_RAW.json
# the stdout line is the truncation-safe headline; the per-query wall
# and CPU maps are file-only — take the worktree's BENCH.json before the
# cleanup trap removes it
cp "$WT/BENCH.json" /root/repo/EPOCH_REF_RAW.json 2>/dev/null || true
python3 - "$PIN" "$SF" <<'EOF'
import json, sys, datetime
raw = json.load(open('/root/repo/EPOCH_REF_RAW.json'))
epoch = {
    'epoch_ref_commit': sys.argv[1],
    'epoch_ref_date': datetime.date.today().isoformat(),
    'sf_dir': sys.argv[2],
    'ref_total_sec': raw.get('value'),
    'queries': raw.get('queries', {}),
    # per-query executor CPU (present from r19 binaries on): when the
    # pinned ref emits it, graft.Bench budgets CPU-vs-CPU — the
    # drift-immune basis — and wall drops to telemetry
    'queries_cpu': raw.get('queries_cpu', {}),
    'ref_total_cpu_sec': raw.get('total_cpu_sec'),
}
json.dump(epoch, open('/root/repo/EPOCH.json', 'w'), indent=1)
print('EPOCH.json written: ref_total_sec=%s over %d queries'
      % (epoch['ref_total_sec'], len(epoch['queries'])))
EOF
