#!/bin/bash
# Interleaved same-box A/B capture for a BENCH_ONLY row set (the repo's
# established per-change evidence protocol): run the bench min-of-3 for the
# given rows at the CURRENT tree, writing the JSON to the given output file.
#   tools/ab_bench.sh <out.json> <q_a,q_b,...> [sf_dir]
set -e
cd "$(dirname "$0")/.."
OUT="$1"; ROWS="$2"; SF="${3:-/root/testdata/sf0.1}"
SPARK_GRAFT_BENCH_OUT="$OUT" SPARK_GRAFT_BENCH_ONLY="$ROWS" SPARK_GRAFT_SF_DIR="$SF" \
  sbt -batch "runMain graft.Bench" > /tmp/ab_bench_last.log 2>&1 \
  || echo "[ab_bench] bench exited non-zero: failed rows are null and listed under \"failed\" (log: /tmp/ab_bench_last.log)"
tail -c 400 "$OUT"; echo
