#!/usr/bin/env python3
"""Repo benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload migrate_jdbc --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the repo and the
harness (perfbench/build.py) into .bench_build/. The harness runs in one
JVM with one closed-loop client, at local[<cores>] and a fixed driver
heap, and writes raw samples; this script checks the outputs and turns
the samples into metrics. `--trace 0` prints the end-to-end metrics;
`--trace 1` attaches the harness's listeners and spans and prints the
per-layer metrics. Every run is also appended to .bench_build/runs.jsonl
with all metrics, for perfbench/compare.py.

Workloads (see README.md for the metrics):
  migrate_jdbc  ConverterApp in-memory Derby -> fresh in-memory Derby, then a
                keyset range delete of every copied table
  queries       passes over a fixed SparkEntry query list, order from --seed
"""
import argparse
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("migrate_jdbc", "queries")
DEFAULT_SCALE = "0.01"
HEAP = "2g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_cpu_s": "s", "op_cpu_s": "s", "step_geomean_cpu_s": "s",
    "peak_rss_mb": "MB"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fixture_dir(root, scale):
    """The fixture directory TESTDATA.md lists for a scale factor."""
    text = (root / "TESTDATA.md").read_text() if (root / "TESTDATA.md").exists() else ""
    m = re.search(rf"^\|\s*{re.escape(scale)}\s*\|\s*`([^`]+)`", text, re.M)
    if not m:
        fail(f"TESTDATA.md lists no fixture directory for sf{scale}")
    return m.group(1).rstrip("/")


def cpu_count():
    return len(os.sched_getaffinity(0))


def run_jvm(root, classes, args, out):
    jars = build.spark_jars(root)
    cp = os.pathsep.join([str(classes)] + [str(j) for j in jars])
    (out / "tmp").mkdir(parents=True)
    # a fixed, pre-touched heap keeps the resident set independent of how
    # far the collector happened to grow the heap
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={out / 'tmp'}",
            f"-Dderby.stream.error.file={out / 'derby.log'}",
            f"-Dderby.system.home={out}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", args.workload, "--sf", args.sf, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(out)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpu_count()), SPARK_LOCAL_DIRS=str(out / "tmp"))
    env.pop("SPARK_GRAFT_MASTER", None)
    with open(out / "stdout.log", "w") as so, open(out / "stderr.log", "w") as se:
        # cwd = out, so spark-warehouse, metastore_db and derby.log land there
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=so, stderr=se,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s; logs in {out}", 4)
    if code != 0:
        tail = (out / "stderr.log").read_text(errors="replace")[-3000:]
        fail(f"harness exited with {code}; logs in {out}\n{tail}", 3)
    return json.loads((out / "result.json").read_text())


def oracle_checks(root, sf, results_dir):
    """Compare each query's result with its DuckDB oracle, using the repo's
    own comparison in tools/check_oracle.py."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("check_oracle", root / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    con = duckdb.connect()
    for p in sorted(Path(sf).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((results_dir / "oracle_sql.json").read_text())
    checks = []
    for name, sql in sorted(oracle.items()):
        files = sorted((results_dir / name).glob("*.parquet"))
        if not files:
            checks.append({"what": f"oracle {name}", "ok": False, "err": "no result written"})
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        try:
            err = mod.compare(name, spark_df, con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"oracle error: {e}"
        checks.append({"what": f"oracle {name}", "ok": err is None, "err": err})
    return checks


def source_check(sf, source_rows):
    """The migration source must hold every row of its fixture file."""
    import pyarrow.parquet as pq
    bad = {t: (n, pq.ParquetFile(Path(sf, f"{t}.parquet")).metadata.num_rows)
           for t, n in source_rows.items()}
    bad = {t: v for t, v in bad.items() if v[0] != v[1]}
    return {"what": "source rows", "ok": not bad and bool(source_rows),
            "err": f"(source, fixture) rows differ: {bad}" if bad else None}


def warm_ops(r):
    return [o for o in r["ops"] if o["warm"] and o["ok"]]


def end_to_end(r):
    """Times are CPU seconds of the JVM without its JIT compiler threads:
    on a shared host they move far less with other tenants' load than
    wall times do (wall.* per layer)."""
    warm = warm_ops(r)
    steps = sorted({k for o in warm for k in o["steps"]})
    return {
        "setup_s": stats.median(r["setup_cpu_s"]),
        "first_cpu_s": r["ops"][0]["cpu_s"],
        "op_cpu_s": stats.median(o["cpu_s"] for o in warm),
        "step_geomean_cpu_s": stats.geomean(
            stats.median(o["steps"][k] for o in warm if k in o["steps"]) for k in steps),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def span_sums(spans, run_ids, names):
    """Seconds per span name, summed within each run id, median over runs."""
    out = {}
    for n in names:
        per_run = [sum(s["end"] - s["start"] for s in spans if s["name"] == n and s["run"] == i)
                   for i in run_ids]
        out[n] = stats.median(per_run) / 1e9 if per_run else 0.0
    return out


def per_layer(r, spans, query_names, cpus):
    warm = warm_ops(r)
    traced = [o for o in warm if o["traced"]]
    untraced = [o for o in warm if not o["traced"]]
    m = {}

    def med(xs, default=0.0):
        xs = list(xs)
        return stats.median(xs) if xs else default

    # Spark engine and Catalyst, per traced warm operation
    counter_names = ["spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
                     "spark.executor_cpu_s", "spark.scheduler_delay_s", "spark.gc_s",
                     "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
                     "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s"]
    for k in counter_names:
        m[k] = med(o["counters"].get(k, 0.0) for o in traced)
    m["spark.core_busy"] = med(o["counters"].get("spark.executor_run_s", 0.0) / (o["s"] * cpus)
                               for o in traced)
    m["spark.task_skew"] = med(
        max(o["worst_stage_task_ms"]) / max(stats.median(o["worst_stage_task_ms"]), 1)
        for o in traced if o["worst_stage_task_ms"])
    m["jvm.gc_s"] = med(o["jvm_gc_s"] for o in warm)
    m["jvm.jit_cpu_s"] = med(o["jit_cpu_s"] for o in warm)
    m["jvm.heap_after_gc_mb"] = r["heap_after_gc_mb"]
    m["wall.setup_s"] = stats.median(r["setup_s"])
    m["wall.first_s"] = r["ops"][0]["s"]
    m["wall.op_s"] = med(o["s"] for o in warm)
    m["session.drift"] = warm[-1]["s"] / warm[0]["s"] if warm else 0.0
    m["trace.overhead"] = (med(o["cpu_s"] for o in traced) / med(o["cpu_s"] for o in untraced) - 1
                           if traced and untraced else 0.0)
    selfs = stats.self_times(spans)
    traced_ids = {o["i"] for o in traced}
    m["trace.unattributed_s"] = med(
        selfs[j] / 1e9 for j, s in enumerate(spans) if s["name"] == "op" and s["run"] in traced_ids)

    # migration layers: per warm operation, then the layer pass
    tables = [o["tables"] for o in warm if "tables" in o]
    m["copy.slowest_table_s"] = med(max(t["s"] for t in ts.values()) for ts in tables)
    m["copy.table_s_sum"] = med(sum(t["s"] for t in ts.values()) for ts in tables)
    m["copy.rows_per_s"] = med(o["rows"] / o["copy_s"] for o in warm if "copy_s" in o)
    delete_ops = [o for o in warm if "delete_s" in o]
    m["delete.ranges"] = med(o["delete_ranges"] for o in delete_ops)
    m["delete.rows"] = med(o["deleted"] for o in delete_ops)
    m["delete.rows_per_s"] = med(o["deleted"] / o["delete_s"] for o in delete_ops)
    sums = span_sums(spans, sorted({o["i"] for o in traced if "delete_s" in o}),
                     ["delete.probe", "delete.exec"])
    m["delete.probe_s"] = sums["delete.probe"]
    m["delete.exec_s"] = sums["delete.exec"]
    layer = span_sums(spans, [-1], ["catalog.introspect", "ddl", "copy.split_probe",
                                    "copy.read", "copy.write", "sources.read"])
    m["catalog.introspect_s"] = layer["catalog.introspect"]
    m["ddl.s"] = layer["ddl"]
    m["copy.split_probe_s"] = layer["copy.split_probe"]
    m["copy.read_s"] = layer["copy.read"]
    m["copy.write_s"] = layer["copy.write"]
    m["sources.read_s"] = layer["sources.read"]
    lt = r["layers"].get("tables", {})
    m["ddl.statements"] = sum(t["ddl_statements"] for t in lt.values())
    m["copy.read_partitions"] = sum(len(t["partition_rows"]) for t in lt.values())
    m["copy.rows_per_commit"] = min((t["rows_per_commit"] for t in lt.values()), default=0)
    m["copy.commits"] = sum(stats.commits(t["partition_rows"], t["rows_per_commit"])
                            for t in lt.values())

    # query layers: per warm pass
    passes = [o for o in warm if "queries" in o]
    traced_passes = [o for o in passes if o["traced"]]
    for q in query_names:
        m[f"query.{q}.build_s"] = med(o["queries"][q]["build_s"] for o in passes)
        m[f"query.{q}.exec_s"] = med(o["queries"][q]["exec_s"] for o in passes)
        m[f"query.{q}.jobs"] = med(o["queries"][q]["jobs"] for o in traced_passes)
    cache = list(r["layers"].get("stage_cache", {}).values())
    m["stage_cache.builds"] = med(c["builds"] for c in cache)
    m["stage_cache.storage_mb"] = med(c["storage_mb"] for c in cache)
    m["stage_cache.blocks_after_release"] = med(c["blocks_after_release"] for c in cache)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--sf", help="fixture directory, read only (default: the "
                    f"sf{DEFAULT_SCALE} directory in TESTDATA.md)")
    args = ap.parse_args()

    root = Path.cwd()
    args.sf = args.sf or fixture_dir(root, DEFAULT_SCALE)
    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    if not (root / "tools" / "check_oracle.py").exists():
        fail(f"{root} has no tools/check_oracle.py; run from the root of a checkout")
    if not (root / "build.sbt").exists():
        fail(f"{root} has no build.sbt; run from the root of a checkout")
    if not Path(args.sf, "orders.parquet").exists():
        fail(f"no fixtures in {args.sf}")
    try:
        classes = build.build(root)
    except RuntimeError as e:
        fail(str(e))
    out = root / build.BUILD_DIR / "out" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    r = run_jvm(root, classes, args, out)
    spans = json.loads((out / "spans.json").read_text()) if args.trace else []

    checks = list(r["checks"])
    if args.workload == "queries":
        checks += oracle_checks(root, args.sf, out / "results")
        query_names = r["query_names"]
    else:
        checks.append(source_check(args.sf, r["source_rows"]))
        # a workload without queries reports their layer metrics as 0
        query_names = sorted({m["name"].split(".")[1] for m in bench["per_layer"]
                              if m["name"].startswith("query.")})
    op_checks = [c for c in checks if c["what"].startswith("op ")]
    other = [c for c in checks if not c["what"].startswith("op ")]
    attempted = len(r["ops"]) + len(other)
    failed = sum(not o["ok"] for o in r["ops"]) + sum(not c["ok"] for c in other)

    metrics = {}
    if warm_ops(r):
        metrics.update((k, (v, END_TO_END[k])) for k, v in end_to_end(r).items())
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        layer = per_layer(r, spans, query_names, cpu_count()) if args.trace else {}
        layer["error_rate"] = failed / attempted
        metrics.update((k, (v, units.get(k, ""))) for k, v in layer.items())
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    line = {"correct": failed == 0 and bool(warm_ops(r)), "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                        for k in wanted if k in metrics}}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "sf": args.sf, "wall_s": time.time() - t0,
              "failed_checks": [c for c in op_checks + other if not c["ok"]],
              "result": line, "all_metrics": {k: v for k, (v, _) in metrics.items()}}
    with open(root / build.BUILD_DIR / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    for d in ("tmp", "results", "spark-warehouse", "metastore_db"):
        shutil.rmtree(out / d, ignore_errors=True)
    for c in record["failed_checks"]:
        print(f"FAILED {c['what']}: {c['err']}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
