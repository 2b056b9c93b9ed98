#!/usr/bin/env bash
# Top-scale (v2sf10) bench runner with the JIT warm order ENFORCED
# (VERDICT r16 #2): DRIFT_r16 §1 measured j2e's sf10 CPU swinging ~2×
# with whole-JVM warm order while its plan/bytes/tasks were constant —
# r15's record rows ran after j2d warmed the shared two-hop kernels.
# This tool makes that recipe structural instead of conventional:
# every run warms on the SAME fixed list (default j2d_twohop_merged)
# before timing, so sf10 rows are like-ordered by construction and a
# CPU delta between rounds means the code, not the compile lottery.
#
# Usage: tools/bench_sf10.sh <queries> [out.json] [reps]
#   queries  comma list for SPARK_GRAFT_QUERIES (substring match)
#   out      artifact path (default BENCH_sf10_<queries>.json)
#   reps     SPARK_GRAFT_REPEAT (default 2; min-task-CPU pass kept)
# Env overrides pass through (SPARK_GRAFT_SF_DIR to change fixture,
# SPARK_GRAFT_WARM_QUERIES to change the warm list, SPARK_GRAFT_JAVA_OPTS
# for session settings: its default sizes shuffle partitions to the
# data, -Dspark.sql.shuffle.partitions=320).
set -euo pipefail
cd "$(dirname "$0")/.."

QUERIES="${1:?usage: bench_sf10.sh <queries> [out.json] [reps]}"
OUT="${2:-BENCH_sf10_$(echo "$QUERIES" | tr ',' '_').json}"
REPS="${3:-2}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/repo/localdata/v2sf10}"
WARM="${SPARK_GRAFT_WARM_QUERIES:-j2d_twohop_merged}"

echo "== sf10 bench: queries=$QUERIES warm=$WARM reps=$REPS -> $OUT" >&2
SPARK_GRAFT_SF_DIR="$SF_DIR" \
SPARK_GRAFT_QUERIES="$QUERIES" \
SPARK_GRAFT_WARM_QUERIES="$WARM" \
SPARK_GRAFT_REPEAT="$REPS" \
SPARK_GRAFT_MATERIALIZE=0 \
SPARK_GRAFT_JAVA_OPTS="${SPARK_GRAFT_JAVA_OPTS:--Dspark.sql.shuffle.partitions=320}" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" \
  sbt -batch 'runMain graft.Bench' 2>&1 | grep -F '"metric"'
