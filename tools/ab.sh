#!/bin/bash
# Interleaved same-box A/B of two compiled trees over a Bench row set.
#
#   SPARK_GRAFT_SF_DIR=<sf dir> tools/ab.sh <tag> <out_dir> <base_classes> <after_classes> [rows]
#
# Legs run base, after, base, after, each a `SPARK_GRAFT_BENCH_ONLY` bench
# (min of 3 per row) after a 60 s cool-down and a page-cache pre-warm; each
# side is read as the element-wise min of its two legs (tools/min_bench.py),
# and the script prints after/base per row. Every leg runs the JVM command
# line of tools/jvm.sh. tools/ab_bench.sh takes one capture at the working
# tree instead. Compare only within one A/B: BENCH_ONLY
# absolute numbers differ from a full-set bench. A row that failed on
# either side is reported as failed, never given a ratio.
set -euo pipefail
cd "$(dirname "$0")/.."

TAG="$1"; OUT="$2"; BASE="$3"; AFTER="$4"
ROWS="${5:-q_lifecycle,q_composed_build,q_composed_cdc,q_dedup_cluster_incr_prod,q_curation_pipeline,q_cdc_root,q_doc_flagship}"
SF="${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the test data dir}"
mkdir -p "$OUT"

source tools/jvm.sh

leg() { # $1 = side, $2 = classes dir, $3 = leg number
  echo "[ab] cool-down 60 s (load $(cut -d' ' -f1 /proc/loadavg))"; sleep 60
  find "$SF" -type f -exec cat {} + > /dev/null 2>&1 || true
  SPARK_GRAFT_BENCH_ONLY="$ROWS" SPARK_GRAFT_BENCH_OUT="$OUT/${TAG}_$1$3.json" \
    graft_java "$2" graft.Bench > "$OUT/${TAG}_$1$3.stdout" 2>&1 \
    || echo "[ab] $1 leg $3: bench reported failed rows"
}

leg base "$BASE" 1
leg after "$AFTER" 1
leg base "$BASE" 2
leg after "$AFTER" 2

python3 - "$OUT" "$TAG" <<'PY'
import json, sys
sys.path.insert(0, "tools")
from min_bench import merge
out, tag = sys.argv[1], sys.argv[2]
def side(name):
    return merge(*(json.load(open(f"{out}/{tag}_{name}{i}.json")) for i in (1, 2)))["queries"]
base, after = side("base"), side("after")
for q in sorted(base):
    b, a = base[q], after.get(q)
    if b is None or a is None:
        print(f"{q:32s} FAILED (base={b}, after={a})")
    else:
        print(f"{q:32s} base {b:8.3f}  after {a:8.3f}  after/base {a / b:6.3f}")
PY
