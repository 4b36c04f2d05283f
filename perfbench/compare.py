#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl [NEW.jsonl]

Each file holds the records run.py appends to .bench_build/runs.jsonl.
For every workload and metric it prints each set's sample count, median,
quartiles and spread (quartile distance over median). End-to-end metrics
come from untraced runs, per-layer metrics from traced runs. With two
sets it adds the change of the median and flags an end-to-end metric
whose median got worse by more than its bound in BENCHMARK.json. Last it
prints the tracing overhead: op_cpu_s of traced runs against untraced
runs of the same set, and the overhead traced runs measure themselves.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def load(path):
    """{(workload, trace): {metric: [values]}}"""
    runs = defaultdict(lambda: defaultdict(list))
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        rec = json.loads(line)
        for k, v in rec["all_metrics"].items():
            if v is not None:
                runs[(rec["workload"], rec["trace"])][k].append(v)
    return runs


def summary(xs):
    if not xs:
        return "n=0"
    q1, q2, q3 = stats.quartiles(xs)
    return (f"n={len(xs):<3d} median={q2:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} "
            f"spread={stats.spread(xs):.3f}")


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    sets = [load(p) for p in argv[1:]]
    worse = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, metrics in ((0, e2e), (1, layer)):
            print(f"== {w} ({'end to end, untraced' if trace == 0 else 'per layer, traced'})")
            for name, spec in metrics.items():
                cols = [s[(w, trace)][name] for s in sets]
                if not any(cols):
                    continue
                print(f"  {name:<40s} {spec['unit']:<9s}")
                for tag, xs in zip(("base", "new "), cols):
                    print(f"    {tag if len(sets) > 1 else '':<4s} {summary(xs)}")
                if len(sets) == 2 and all(cols):
                    a, b = stats.median(cols[0]), stats.median(cols[1])
                    change = (b - a) / a if a else float("inf")
                    worse_by = change if spec["better"] == "lower" else -change
                    flag = ""
                    if "bound" in spec and worse_by > spec["bound"]:
                        flag = f"  WORSE than bound {spec['bound']}"
                        worse.append((w, name))
                    print(f"         change of median {change:+.2%}{flag}")
    print("== tracing overhead (op_cpu_s traced / untraced - 1)")
    for i, s in enumerate(sets):
        for w in [x["name"] for x in bench["workloads"]]:
            on, off = s[(w, 1)].get("op_cpu_s", []), s[(w, 0)].get("op_cpu_s", [])
            within = s[(w, 1)].get("trace.overhead", [])
            across = f"{stats.median(on) / stats.median(off) - 1:+.2%}" if on and off else "n/a"
            inside = f"{stats.median(within):+.2%}" if within else "n/a"
            print(f"  set {i + 1} {w:<14s} across runs {across:>8s}   within traced runs {inside:>8s}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
