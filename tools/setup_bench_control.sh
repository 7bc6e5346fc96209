#!/bin/bash
# Pin the bench control: a git worktree at the PREVIOUS round's verdict
# commit, compiled once. Bench.scala discovers it (SPARK_GRAFT_CONTROL_DIR,
# default .bench-control) and interleaves each headline query HEAD-then-
# control in the same session, emitting per-query HEAD/control ratios
# into bench_detail.json — the scored bench point then carries its own
# load normalization (round-15 verdict ask #1).
#
# Usage: tools/setup_bench_control.sh <control-commit>
# The commit is required: the control is the previous round's verdict
# commit, which changes every round, so there is no safe default.
set -euo pipefail
if [ $# -ne 1 ]; then
  echo "usage: $0 <control-commit>  (the previous round's verdict commit)" >&2
  exit 2
fi
cd "$(dirname "$0")/.."
TAG="$1"

git worktree remove --force .bench-control 2>/dev/null || true
rm -rf .bench-control
git worktree prune
git worktree add --detach .bench-control "$TAG"

# the control always runs HEAD's ControlServer harness (stable APIs
# only: GraftSession, SparkEntry.queries, noop sink) so protocol
# upgrades (v2 per-run lockstep, round 16) reach the pinned tag — the
# MEASURED code (SparkEntry and below) stays the tag's own
cp src/main/scala/graft/tools/ControlServer.scala \
   .bench-control/src/main/scala/graft/tools/ControlServer.scala

(cd .bench-control && sbt -batch compile)
git -C . rev-parse --short "$TAG" > .bench-control/CONTROL_TAG
echo "bench control ready at $(cat .bench-control/CONTROL_TAG)"
