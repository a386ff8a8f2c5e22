#!/usr/bin/env python3
"""Assemble SCALING_<tag>.json from the captures tools/scaling.sh writes.

Usage: scaling.py <tag> <out_dir> <out.json>

Each full-set bench is captured twice and read as the element-wise min of
the two (`min_bench.merge`: per query; max for the throughput headlines).
A query that failed in either capture (`null` row) is listed under
`failed` and left out of every ratio. Two ratio tables:
  - data scaling: sf1 / sf0.1 at all cores (10x data);
  - core scaling: sf1 at a quarter of the cores / at all of them (a
    compute-bound row reads toward 4.0, a driver-bound one toward 1.0).
Bounded-dup rows, recall cells and mutation paths are included when their
captures exist. Rows under 0.05 s at the denominator are left out of the
ratios (their timing is noise).
"""
import json
import os
import sys

from min_bench import merge

HEADLINE_ROWS = [
    "q_lifecycle", "q_composed_build", "q_composed_cdc",
    "q_dedup_cluster_incr_prod", "q_cdc_root", "q_bm25_index_build",
    "q_curation_pipeline", "q_image_ann", "q_ann_ivfpq", "q_dsir",
]
FLOOR = 0.05


def load(path):
    return json.load(open(path)) if os.path.exists(path) else None


def pair(out_dir, name):
    a, b = load(f"{out_dir}/{name}_a.json"), load(f"{out_dir}/{name}_b.json")
    if a is None or b is None:
        sys.exit(f"missing capture {out_dir}/{name}_{{a,b}}.json")
    return merge(a, b)


def ratios(num, den):
    return {q: round(t / den["queries"][q], 3) for q, t in num["queries"].items()
            if (den["queries"].get(q) or 0) > FLOOR and (t or 0) > 0}


def summary(r):
    v = sorted(r.values())
    return {"n": len(v), "median": v[len(v) // 2] if v else None,
            "p90": v[int(len(v) * 0.9)] if v else None}


def main():
    tag, out_dir, out = sys.argv[1], sys.argv[2], sys.argv[3]
    sf01 = pair(out_dir, f"closing_{tag}")
    full = pair(out_dir, f"sf1_{tag}_full")
    quarter = pair(out_dir, f"sf1_{tag}_quarter")
    data_r, core_r = ratios(full, sf01), ratios(quarter, full)
    side = lambda m: {k: v for k, v in m.items() if k not in ("queries", "gc_ms")}
    doc = {
        "round": tag,
        "data_factor": 10,
        "generator": "graft.tools.ScaleUp (sf0.1 replicated 10x; key-domain offsets; per-copy text salt + embedding jitter; dims fixed; 32 output files per table) + graft.tools.BoundedDup (fixed ~8% near-dup corpora for the pair-producing dedup rows)",
        "sf0_1": side(sf01),
        "sf1_full_cores": side(full),
        "sf1_quarter_cores": side(quarter),
        "data_scaling_sf1_over_sf01": {**summary(data_r), "per_query": data_r},
        "core_scaling_at_sf1_quarter_over_full": {
            **summary(core_r),
            "total_ratio": round(quarter["value"] / full["value"], 3),
            "per_query": core_r,
        },
        "headline_rows": {
            q: {"sf1_full_sec": full["queries"].get(q), "sf1_quarter_sec": quarter["queries"].get(q),
                "quarter_over_full": core_r.get(q), "sf1_over_sf01": data_r.get(q)}
            for q in HEADLINE_ROWS if q in full["queries"]
        },
        "sf1_provenance": load(f"{out_dir}/sf1_provenance_{tag}.json"),
    }
    bdup = {n: load(f"{out_dir}/{n}_{tag}.json") for n in ("bdup5k", "bdup50k")}
    if all(bdup.values()):
        doc["bounded_dup"] = {n: {"queries": d["queries"], "failed": d.get("failed", []),
                                  "load_before": d.get("load_before")} for n, d in bdup.items()}
    recall = {n: load(f"{out_dir}/recall_{n}_{tag}.json") for n in ("bdup5k", "bdup50k")}
    if all(recall.values()):
        doc["ann_recall_at50"] = recall
    mut = {"sf0_1": load(f"{out_dir}/mut01_{tag}.json"), "sf1": load(f"{out_dir}/mut1_{tag}.json")}
    if all(mut.values()):
        doc["mutation_paths"] = mut
    json.dump(doc, open(out, "w"), indent=1)
    print("wrote", out)
    print("sf1 full:", full["value"], "| quarter:", quarter["value"],
          "| total core ratio:", doc["core_scaling_at_sf1_quarter_over_full"]["total_ratio"],
          "| core median:", doc["core_scaling_at_sf1_quarter_over_full"]["median"])
    print("data ratio median:", doc["data_scaling_sf1_over_sf01"]["median"],
          "p90:", doc["data_scaling_sf1_over_sf01"]["p90"])
    for m, name in ((sf01, "sf0.1"), (full, "sf1 full"), (quarter, "sf1 quarter")):
        if m["failed"]:
            print(f"FAILED at {name}:", ", ".join(m["failed"]))


if __name__ == "__main__":
    main()
