#!/bin/bash
# Scaling campaign: every capture SCALING_<tag>.json is assembled from.
#
#   SPARK_GRAFT_SF_DIR=<sf0.1 dir> tools/scaling.sh <tag> <out_dir> <classes_dir>
#
# <classes_dir> is a compiled tree (`sbt compile` → target/scala-2.13/classes).
# Corpora are generated into <out_dir> once and reused (sf1 = sf0.1 × 10,
# bdup5k/bdup50k = bounded near-dup corpora); sf1 provenance hashes are
# recorded so a later campaign can check it read the same data. Then:
#   1. bounded-dup bench rows and the ANN recall@50 cells;
#   2. the persisted-index mutation paths at sf0.1 and sf1;
#   3. full-set benches, each captured twice (element-wise min in
#      scaling.py): sf0.1 and sf1 at all cores, sf1 at a quarter of them.
# Cool-downs and a page-cache pre-warm separate the captures; every Bench
# JSON records its own load average and heap. Every JVM runs the command
# line of tools/jvm.sh (-Xmx32g, as the committed SCALING_* captures did).
# No per-layer breakdown is captured: the traced perfbench run
# (`perfbench/run.py --trace 1`) reads only its fixed sf0.1 subset, so the
# sf0.1-full and sf1 legs here have no layer attribution.
# Finish with: tools/scaling.py <tag> <out_dir> SCALING_<tag>.json
set -euo pipefail
cd "$(dirname "$0")/.."

TAG="$1"; OUT="$2"; CLASSES="$3"
SF01="${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the sf0.1 test data}"
CORES="$(nproc)"; QUARTER=$(( CORES / 4 > 0 ? CORES / 4 : 1 ))
mkdir -p "$OUT"

source tools/jvm.sh
run() { graft_java "$CLASSES" "$@"; }

warm() { find "$1" -type f -exec cat {} + > /dev/null 2>&1 || true; }
cool() { echo "[scaling] cool-down $1 s (load $(cut -d' ' -f1 /proc/loadavg))"; sleep "$1"; }
bench() { # $1 = capture name, $2 = corpus dir, $3 = cores, $4 = rows (empty: all)
  cool 120; warm "$2"
  ( export SPARK_GRAFT_SF_DIR="$2" SPARK_GRAFT_CPUS="$3" SPARK_GRAFT_BENCH_OUT="$OUT/$1.json"
    [ -z "$4" ] || export SPARK_GRAFT_BENCH_ONLY="$4"
    run graft.Bench > "$OUT/$1.stdout" 2>&1 ) \
    || echo "[scaling] $1: bench reported failed rows (see $OUT/$1.json)"
}

BDUPQ="q_dedup_ngram,q_dedup_minhash_prod,q_dedup_simhash_prod,q_dedup_span_ranges,q_dedup_embed_lsh,q_dedup_semantic"

# ---- corpora (untimed, generated once) --------------------------------------
[ -d "$OUT/sf1/documents.parquet" ] || run graft.tools.ScaleUp "$SF01" "$OUT/sf1" 10 2>&1 | grep -v WARN || true
[ -d "$OUT/bdup5k/documents.parquet" ] || run graft.tools.BoundedDup "$OUT/bdup5k" 5000 12 2>&1 | grep -v WARN || true
[ -d "$OUT/bdup50k/documents.parquet" ] || run graft.tools.BoundedDup "$OUT/bdup50k" 50000 12 2>&1 | grep -v WARN || true
python3 tools/sf1_provenance.py "$OUT/sf1" "$OUT/sf1_provenance_$TAG.json"

# ---- 1. bounded-dup rows + recall cells -------------------------------------
bench "bdup5k_$TAG" "$OUT/bdup5k" "$CORES" "$BDUPQ"
bench "bdup50k_$TAG" "$OUT/bdup50k" "$CORES" "$BDUPQ"
run graft.tools.RecallScale "$OUT/bdup5k" "$OUT/recall_bdup5k_$TAG.json" > /dev/null 2>&1
run graft.tools.RecallScale "$OUT/bdup50k" "$OUT/recall_bdup50k_$TAG.json" > /dev/null 2>&1

# ---- 2. mutation paths ------------------------------------------------------
cool 120
run graft.tools.MutationScale "$SF01" "$OUT/mut01_$TAG.json" > "$OUT/mut01_$TAG.stdout" 2>&1
cool 120
run graft.tools.MutationScale "$OUT/sf1" "$OUT/mut1_$TAG.json" > "$OUT/mut1_$TAG.stdout" 2>&1

# ---- 3. full-set benches ----------------------------------------------------
for leg in a b; do
  bench "closing_${TAG}_$leg" "$SF01" "$CORES" ""
  bench "sf1_${TAG}_full_$leg" "$OUT/sf1" "$CORES" ""
  bench "sf1_${TAG}_quarter_$leg" "$OUT/sf1" "$QUARTER" ""
done
echo "[scaling] done: tools/scaling.py $TAG $OUT SCALING_$TAG.json"
