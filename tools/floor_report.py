#!/usr/bin/env python3
"""Convert `graft.Dev profile` stdout into the BENCH_floor_r{N}.json artifact.

Usage: python3 tools/floor_report.py <probe.stdout> <out.json>
         [<ref_full_bench.json> <window_bench.json>]

Each probe line: `[probe] <name> min=X med=Y max=Z | ...`.
If a reference full-bench JSON (per-query min-of-k, e.g. BENCH_full_r10)
and/or a driver-window bench JSON (BENCH_r{N}) are given, the report adds
floor_vs_ref (this floor / ref min) and window (the driver-window time)
per query, so one diffable file acquits or indicts every window outlier.
"""
import sys, json, re

def main():
    probe_path, out_path = sys.argv[1], sys.argv[2]
    ref = window = None
    if len(sys.argv) > 3:
        ref = json.load(open(sys.argv[3])).get("queries", {})
    if len(sys.argv) > 4:
        w = json.load(open(sys.argv[4]))
        window = w.get("parsed", w).get("queries", {})
    queries = {}
    meta = None
    pat = re.compile(
        r"\[probe\] (\S+)\s+min=([\d.]+) med=([\d.]+) max=([\d.]+)")
    for line in open(probe_path):
        if line.startswith("[meta] "):
            meta = json.loads(line[len("[meta] "):])
            continue
        m = pat.search(line)
        if not m:
            continue
        name = m.group(1)
        entry = {"min": float(m.group(2)), "med": float(m.group(3)),
                 "max": float(m.group(4))}
        if ref and name in ref:
            entry["ref_min"] = ref[name]
            entry["floor_vs_ref"] = round(entry["min"] / ref[name], 3) \
                if ref[name] > 0 else None
        if window and name in window:
            entry["window"] = window[name]
            entry["window_vs_floor"] = round(window[name] / entry["min"], 2) \
                if entry["min"] > 0 else None
        queries[name] = entry
    out = {"kind": "fresh-jvm floor (graft.Dev profile min-of-k)",
           "n_queries": len(queries), "queries": queries}
    if meta is not None:
        out["_meta"] = meta
    regressed = sorted((n for n, e in queries.items()
                        if e.get("floor_vs_ref") and e["floor_vs_ref"] > 1.5),
                       key=lambda n: -queries[n]["floor_vs_ref"])
    out["floor_regressions_vs_ref"] = regressed
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(f"wrote {out_path}: {len(queries)} queries, "
          f"{len(regressed)} floor regressions >1.5x vs ref")
    for n in regressed:
        e = queries[n]
        print(f"  REGRESSED {n}: floor {e['min']:.3f}s vs ref {e['ref_min']:.3f}s")

if __name__ == "__main__":
    main()
