#!/usr/bin/env bash
# One-command round-close check (VERDICT r15 #6): two full Bench
# passes in fresh JVMs on the same fixture, then tools/mat_diff.py
# over their artifacts. Exit 0 means every query's materialized
# output hash AND row count are identical across runs — the
# cross-run determinism witness BENCH.md's template requires — and
# the two artifacts double as the round's comparable timing pair
# (loud-run wobble shows up as timing deltas with identical hashes).
#
# Usage: tools/round_close.sh [SF_DIR] [OUT_A] [OUT_B]
#   SF_DIR  fixture dir (default /root/testdata/sf0.1)
#   OUT_A/B artifact paths (default BENCH_close_{a,b}.json)
# Extra env passes straight through: Bench's SPARK_GRAFT_* run
# controls (SPARK_GRAFT_CPUS, _QUERIES, _REPEAT, ...), and session
# settings as -Dspark.* in SPARK_GRAFT_JAVA_OPTS, which override
# Graft.session's defaults.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.1}"
OUT_A="${2:-BENCH_close_a.json}"
OUT_B="${3:-BENCH_close_b.json}"

for out in "$OUT_A" "$OUT_B"; do
  echo "== bench pass -> $out (fixture $SF_DIR)" >&2
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_OUT="$out" \
    sbt -batch 'runMain graft.Bench' 2>&1 | grep -F '"metric"' || {
      echo "bench pass failed; see sbt output" >&2; exit 3; }
done

python3 tools/mat_diff.py "$OUT_A" "$OUT_B"
