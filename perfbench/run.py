#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_reports --seed 1 --seconds 20 --trace 0

Builds the program and the harness (build.py), runs the workload's
queries (workloads.json) in the harness JVM, checks the oracle pass's
results against DuckDB, and prints every metric by name and unit. The
last line of stdout is the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). A traced run also keeps its
spans in .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

import build

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = json.loads((HERE / "workloads.json").read_text())
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())

# JDK 17 needs these when a SparkSession starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 170
# spark.jobs, spark.stages and spark.tasks of a fixed plan repeat exactly;
# a difference between passes means memoized state leaked across them
REPEATING = ("spark.jobs", "spark.stages", "spark.tasks")


def run_harness(classpath, queries, args, work):
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *OPENS, "-Xms4g", "-Xmx4g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join(classpath), "perfbench.Harness",
           "--queries", ",".join(queries), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--out", str(work)]
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    with open(log, "w") as f:
        res = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                             timeout=JVM_TIMEOUT_S, cwd=work)
    if res.returncode != 0:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"harness exited with code {res.returncode}")
    return json.loads((work / "passes.json").read_text()), cores


def oracle_check(rec, work, queries):
    """Compares each query's oracle-pass result with its DuckDB oracle,
    normalized as tools/check.py does. Returns {query: verdict}."""
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    from check import TABLES, norm_rows

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{rec['oracle_dir']}/{t}.parquet')")
    verdicts = {}
    for q in queries:
        sql = rec["oracle_sql"].get(q)
        files = sorted((work / "oracle" / q).glob("*.parquet"))
        if sql is None:
            verdicts[q] = "NO_ORACLE"
            continue
        if not files:
            verdicts[q] = "MISSING_SPARK_OUTPUT"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({[str(f) for f in files]!r})")
            exp = con.sql(sql)
            gc, xc = [c.lower() for c in got.columns], [c.lower() for c in exp.columns]
            if sorted(gc) != sorted(xc):
                verdicts[q] = f"SCHEMA: got {sorted(gc)} want {sorted(xc)}"
                continue
            g, x = norm_rows(gc, got.fetchall()), norm_rows(xc, exp.fetchall())
        except duckdb.Error as e:
            verdicts[q] = f"ERROR: {e}"
            continue
        if len(g) != len(x):
            verdicts[q] = f"ROWS: got {len(g)} want {len(x)}"
        elif g == x or sorted(g) == sorted(x):
            verdicts[q] = "OK"
        else:
            verdicts[q] = "VALUES"
    return verdicts


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). Below 20 samples no percentile above the
    median has ten beyond it, and the maximum is reported instead."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(passes, setup_only):
    windows = [q["wall_s"] for p in passes for q in p["queries"]]
    value, pct, n = tail(windows)
    return {
        "setup_s": (median(setup_only + [p["setup_s"] for p in passes]), "s"),
        "pass_s": (median([sum(q["wall_s"] for q in p["queries"]) for p in passes]), "s"),
        "pass_cpu_s": (median([sum(q["cpu_s"] for q in p["queries"]) for p in passes]), "s"),
        "query_p50_s": (median(windows), "s"),
        "query_tail_s": (value, "s"),
        "heap_live_mb": (max(q["heap_live_mb"] for p in passes for q in p["queries"]), "MB"),
    }, f"query_tail_s is p{pct:.1f} of n={n} query windows"


def per_layer(traced, plain):
    names = traced[0]["layers"].keys()
    m = {k: median([p["layers"][k] for p in traced]) for k in names}
    med = lambda f: median([f(p) for p in traced])
    m["queries.build_s"] = med(lambda p: sum(q["build_s"] for q in p["queries"]))
    m["queries.final_s"] = med(lambda p: sum(q["final_s"] for q in p["queries"]))
    m["jvm.gc_s"] = med(lambda p: sum(q["gc_s"] for q in p["queries"]))
    m["jvm.jit_s"] = med(lambda p: sum(q["jit_s"] for q in p["queries"]))
    m["spark.pins_leaked"] = med(lambda p: sum(q["pins_leaked"] for q in p["queries"]))
    m["store.files"] = med(lambda p: p["store_files"])
    m["store.disk_mb"] = med(lambda p: p["store_bytes"] / 1048576)
    m["store.disk_mb_per_input_mb"] = (
        m["store.disk_mb"] / m["spark.input_mb"] if m["spark.input_mb"] else 0.0)
    traced_pass = med(lambda p: sum(q["wall_s"] for q in p["queries"]))
    plain_pass = median([sum(q["wall_s"] for q in p["queries"]) for p in plain])
    m["trace_overhead"] = traced_pass / plain_pass - 1
    units = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
    return {k: (v, units[k]) for k, v in sorted(m.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    queries = [q["name"] for q in WORKLOADS[args.workload]["queries"]]

    try:
        classpath = build.build()
    except build.BuildError as e:
        raise SystemExit(f"build: {e}")
    work = build.OUT / f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.monotonic()
        rec, cores = run_harness(classpath, queries, args, work)
        t1 = time.monotonic()
        verdicts = oracle_check(rec, work, queries)
        t2 = time.monotonic()
        if args.trace:
            traces = build.OUT / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "trace.json",
                        traces / f"{args.workload}-seed{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = rec["passes"]
    execs = [q for p in passes for q in p["queries"]]
    failed = sum(not q["ok"] for q in execs)
    wrong = sorted(q for q, v in verdicts.items() if v != "OK")
    notes = [f"workload {args.workload}, seed {args.seed}, {cores} cores, "
             f"order {','.join(rec['order'])}",
             f"harness {t1 - t0:.1f} s, oracle check {t2 - t1:.1f} s; passes: " +
             ", ".join(f"{p['kind']} {p['elapsed_s']:.1f} s (jit "
                       f"{sum(q['jit_s'] for q in p['queries']):.1f} s)" for p in passes),
             f"failed_frac = {failed}/{len(execs)} = {failed / len(execs):.4f}",
             f"wrong_results = {len(wrong)} (count)"]
    notes += [f"DEFECT: {q} disagrees with its oracle: {verdicts[q]}" for q in wrong]
    notes += [f"DEFECT: {q['name']} failed in pass {i}"
              for i, p in enumerate(passes) for q in p["queries"] if not q["ok"]]
    ok = failed == 0 and not wrong
    if args.trace:
        traced = [p for p in passes if p["kind"] == "traced"]
        metrics = per_layer(traced, [p for p in passes if p["kind"] == "plain"])
        for k in REPEATING:
            seen = [p["layers"][k] for p in traced]
            if len(set(seen)) != 1:
                ok = False
                notes.append(f"DEFECT: {k} differs between passes: {seen}")
        leaked = metrics["spark.pins_leaked"][0]
        if leaked:
            notes.append(f"spark.pins_leaked = {leaked:g}: persisted RDDs alive "
                         "when a query returned")
    else:
        metrics, tail_note = end_to_end([p for p in passes if p["kind"] == "plain"],
                                        rec["setup_only_s"])
        notes.append(tail_note)
    for n in notes:
        print(n)
    for q in rec["order"]:
        ws = [x["wall_s"] for p in passes[1:] for x in p["queries"] if x["name"] == q]
        print(f"  window {q:34s} median {median(ws):9.3f} s of n={len(ws)}")
    for k, (v, unit) in metrics.items():
        print(f"{k:40s} {v:14.6f} {unit}")
    # the result carries the metrics BENCHMARK.json declares for this mode
    declared = [m["name"] for m in BENCH["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({"correct": ok, "attempted": len(execs), "failed": failed,
                      "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                                  for k in declared}}))


if __name__ == "__main__":
    main()
