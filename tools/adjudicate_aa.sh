#!/usr/bin/env bash
# Worktree A/A adjudication for bench flags (r13 discipline, scripted
# in r14 per the verdict's item 8).
#
# Problem this solves: two bench records of IDENTICAL code on this box
# disagree by up to 3.6x per query (per-JOB overhead drifts more than
# per-row compute, and the 2-job a02 canary under-corrects 40-job loop
# queries). So a >1.3x-normalized per-query "regression" between two
# records is NOT attributable to code until the baseline commit has
# been re-run in the same minutes. This script does exactly that:
#
#   tools/adjudicate_aa.sh <baseline-sha> <q1,q2,...>
#
# 1. checks out <baseline-sha> into a git worktree (/tmp/graft_aa),
# 2. compiles it there,
# 3. runs SPARK_GRAFT_ONLY=<flags>+canary in the WORKTREE, then the
#    same filtered bench in the CURRENT tree, back to back,
# 4. prints both JSON lines. If the worktree (old code) reproduces the
#    "regressed" numbers, the flag is host drift, not code.
#
# Keep the runs adjacent in time; do not run anything heavy alongside.
set -euo pipefail
SHA="${1:?usage: adjudicate_aa.sh <baseline-sha> <q1,q2,...>}"
QS="${2:?usage: adjudicate_aa.sh <baseline-sha> <q1,q2,...>}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
WT=/tmp/graft_aa
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
# an explicit SPARK_GRAFT_CPUS wins; otherwise the host's core count
CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
REPS="${SPARK_GRAFT_REPS:-3}"

if [ ! -d "$WT" ]; then
  git -C "$REPO" worktree add "$WT" "$SHA"
else
  git -C "$WT" checkout --detach "$SHA"
fi
echo "== compiling baseline $SHA in $WT =="
(cd "$WT" && sbt -batch compile > /dev/null)

ONLY="${QS},a02_grouped_agg"
echo "== A (baseline $SHA, worktree) =="
(cd "$WT" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_REPS="$REPS" SPARK_GRAFT_ONLY="$ONLY" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"')
echo "== B (current tree) =="
(cd "$REPO" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_REPS="$REPS" SPARK_GRAFT_ONLY="$ONLY" \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"')
echo "== done: same numbers in A as the flagged record -> host drift =="
