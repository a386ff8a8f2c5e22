#!/usr/bin/env python3
"""Element-wise best of two captures of the same Bench row set: min per
query row / max for the throughput headlines (the dual-capture protocol).

A row that failed in either capture (a `null` row, or listed under
`failed`) stays `null` in the merge and is listed under `failed`; it adds
nothing to `value`/`value_common`. Per-query gc_ms is carried from
WHICHEVER capture supplied the winning time — copying one capture's gc map
wholesale would attribute collector time to timings taken from the other
run. load_before/load_after/heap_max_mb are reported as a pair so the
merged artifact doesn't claim one capture's box state for both.

`merge(a, b)` is the one implementation; tools/scaling.py and tools/ab.sh
import it. Usage: min_bench.py <a.json> <b.json> <out.json>"""
import json
import sys


def merge(a, b):
    qa, qb = a["queries"], b["queries"]
    failed = sorted(set(a.get("failed", [])) | set(b.get("failed", []))
                    | {q for c in (qa, qb) for q, t in c.items() if t is None})
    out = dict(a)
    out["queries"] = {q: None if q in failed else min(t, qb.get(q, t))
                      for q, t in qa.items()}
    out["failed"] = failed
    ok = {q: t for q, t in out["queries"].items() if t is not None}
    ga, gb = a.get("gc_ms") or {}, b.get("gc_ms") or {}
    if ga or gb:
        out["gc_ms"] = {q: (ga if t == qa.get(q) else gb).get(q) for q, t in ok.items()}
    for k in a:
        if k.endswith("_per_sec") or "_per_sec_" in k:
            if isinstance(a.get(k), (int, float)) and isinstance(b.get(k), (int, float)):
                out[k] = max(a[k], b[k])
    for k in ("load_before", "load_after", "heap_max_mb"):
        if k in a and k in b:
            out[k] = [a[k], b[k]]
    out["value"] = round(sum(ok.values()), 3)
    out["value_common"] = round(sum(t for q, t in ok.items() if q != "q_cdc_partitioned"), 3)
    return out


if __name__ == "__main__":
    out = merge(json.load(open(sys.argv[1])), json.load(open(sys.argv[2])))
    out["min_of"] = [sys.argv[1], sys.argv[2]]
    json.dump(out, open(sys.argv[3], "w"), indent=1)
    print("wrote", sys.argv[3], "value", out["value"])
    if out["failed"]:
        print("FAILED:", ", ".join(out["failed"]))
