#!/bin/bash
# Same-window A/B bench: prior-round COMMITTED code vs HEAD, back to
# back on the same box (r17 verdict #1 — the probes/ same-day-control
# discipline promoted to the closing artifact itself). Committed-vs-
# committed headline deltas across rounds are dominated by box-day
# drift (r16→r17 read 1.41x where the same-day control read 1.03x);
# this harness makes the control THE artifact.
#
# Usage: tools/bench_ab.sh <prior-commit-ish> <tag> [sf-dir]
#   -> probes/BENCH_<tag>_ab_priorcode.json   (prior commit, this box, now)
#   -> probes/BENCH_<tag>_ab_headcode.json    (HEAD,        this box, now)
#   -> prints tools/bench_diff.py of the pair (regenerate round-log
#      numbers from THESE files, never from prose or uncommitted runs)
set -euo pipefail
PRIOR=${1:?prior commit-ish (e.g. the last round-close commit)}
TAG=${2:?tag for the artifact names, e.g. r18}
SF=${3:-/root/testdata/sf0.1}
ROOT=$(git rev-parse --show-toplevel)
mkdir -p "$ROOT/probes"

WT=$(mktemp -d /tmp/graft_ab_XXXXXX)
git -C "$ROOT" worktree add --detach "$WT" "$PRIOR" >/dev/null
trap 'git -C "$ROOT" worktree remove --force "$WT" >/dev/null 2>&1 || true' EXIT
(cd "$WT" && sbt -batch compile >/dev/null)

# HEAD classes must be current too (same window, same box)
(cd "$ROOT" && sbt -batch compile >/dev/null)

echo "== A: prior ($PRIOR = $(git -C "$WT" rev-parse --short HEAD)) =="
# HEAD's run.sh (it honors GRAFT_CLASSES) pointed at the PRIOR tree's
# classes — the runner script is orthogonal to the measured code, and
# an older tree's run.sh may hardcode the main repo's target dir
# (the r18 lesson: that silently benches HEAD twice)
GRAFT_CLASSES="$WT/target/scala-2.13/classes" SPARK_GRAFT_SF_DIR="$SF" \
  BENCH_OUT="$ROOT/probes/BENCH_${TAG}_ab_priorcode.json" \
  "$ROOT/tools/run.sh" graft.Bench >/dev/null

echo "== B: HEAD =="
SPARK_GRAFT_SF_DIR="$SF" BENCH_OUT="$ROOT/probes/BENCH_${TAG}_ab_headcode.json" \
  "$ROOT/tools/run.sh" graft.Bench >/dev/null

echo "== diff (committed-artifact numbers; quote THESE) =="
python3 "$ROOT/tools/bench_diff.py" \
  "$ROOT/probes/BENCH_${TAG}_ab_priorcode.json" \
  "$ROOT/probes/BENCH_${TAG}_ab_headcode.json" || true
