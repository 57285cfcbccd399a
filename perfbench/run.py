#!/usr/bin/env python3
"""Benchmark of the Spark ETL program in this repository.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged.

A run derives its input tables from perfbench/data and the seed (three
times, timed: set-up), then starts one JVM
(perfbench/src/main/scala/perfbench/Main.scala) that runs timed passes
of the workload for --seconds and checks their output; with --trace 1
it also runs every layer probe under a span tracer. This script then
compares the loaded tables with the DuckDB oracle SQL the program
registers, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1
the per_layer ones. The full run report is written to
perfbench/results/<workload>-seed<seed>-trace<t>.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
DATA = os.path.join(HERE, "data")

# A JVM run must leave time for the oracle compare inside the 180 s a
# run may take.
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
SETUP_ROUNDS = 3

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def git_head():
    """The checkout's commit, or None outside a git repository."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds the program and harness if needed; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    with open(log, "w") as out:
        p = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    if p.returncode != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed (exit {p.returncode}); log in {log}")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, work, report):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [a for m in JAVA_OPENS for a in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--input", os.path.join(work, "input"), "--work", work, "--report", report])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)

        def stop(signum, _frame):  # never leave the JVM behind
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            print("".join(f.readlines()[-60:]), file=sys.stderr)
        print(f"perfbench: benchmark JVM failed ({code})", file=sys.stderr)
        sys.exit(1)


# ----------------------------------------------------------------- input

# Share of orders (and of event users) the derived input keeps, in %.
KEEP_PERCENT = 90
SAMPLED = ["orders", "lineitem", "events"]


def derive(seed, out):
    """Writes the run's input tables to out/<table>.parquet: the orders
    whose seeded hash of o_orderkey falls below the cut, lineitem
    semi-joined on them, the events of the users whose seeded hash
    falls below the cut, every other table whole (dimension joins keep
    every key). Returns each sampled file's sha256."""
    import duckdb
    os.makedirs(out)
    for t in TABLES:
        if t not in SAMPLED:
            shutil.copyfile(os.path.join(DATA, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one writer: the same seed writes the same bytes
    src = {t: f"read_parquet('{os.path.join(DATA, t + '.parquet')}')" for t in SAMPLED}
    con.execute(f"CREATE TEMP TABLE kept AS SELECT * FROM {src['orders']} "
                f"WHERE hash({seed}, o_orderkey) % 100 < {KEEP_PERCENT}")
    queries = {
        "orders": "SELECT * FROM kept",
        "lineitem": f"SELECT l.* FROM {src['lineitem']} l SEMI JOIN kept ON l_orderkey = o_orderkey",
        "events": f"SELECT * FROM {src['events']} WHERE hash({seed}, user_id) % 100 < {KEEP_PERCENT}",
    }
    digests = {}
    for t, q in queries.items():
        path = os.path.join(out, f"{t}.parquet")
        con.execute(f"COPY ({q}) TO '{path}' (FORMAT parquet)")
        with open(path, "rb") as f:
            digests[t] = hashlib.sha256(f.read()).hexdigest()
    con.close()
    return digests


def row_counts(dir_):
    import duckdb
    con = duckdb.connect()
    return {t: con.execute(f"SELECT count(*) FROM '{os.path.join(dir_, t)}.parquet'").fetchone()[0]
            for t in TABLES}


# ---------------------------------------------------------------- oracle

def normalize(df):
    """Columns by name, values as comparable scalars, rows sorted: the
    rules of dev/compare.py, kept here so the benchmark's check does not
    change with the dev tool."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None and not (
                isinstance(v, float) and math.isnan(v)) else None)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def same_frame(spark_df, duck_df):
    """None if equal, else the first difference."""
    import pandas as pd
    s, d = normalize(spark_df), normalize(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = (a.fillna(1.5e308) == b.fillna(1.5e308)) | ((a - b).abs() < 1e-30)
        else:
            eq = a.astype(str).fillna("\0") == b.astype(str).fillna("\0")
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}[row {i}]: {a[i]!r} vs {b[i]!r}"
    return None


def oracle_compare(targets, input_dir):
    """Compares each loaded table with its DuckDB oracle on the run's
    input. Returns (checks, selftests)."""
    import duckdb
    import pandas as pd
    if not targets:
        return [], []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(input_dir, t)}.parquet')")
    checks, first = [], None
    for target in targets:
        try:
            duck = con.execute(target["sql"]).fetchdf()
            out = target["path"]
            files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
            spark = pd.concat([pd.read_parquet(os.path.join(out, f)) for f in files]) \
                if files else pd.DataFrame()
            if target["project"]:
                spark = spark[list(duck.columns)]
            diff = same_frame(spark, duck)
        except Exception as e:  # an oracle that cannot run is a failed check
            diff = f"{type(e).__name__}: {e}"
        checks.append({"name": f"oracle.{target['name']}", "ok": diff is None, "detail": diff or ""})
        if first is None and diff is None and len(spark) > 1:
            first = (spark, duck)
    selftest = []
    if first is not None:
        spark, duck = first
        dropped = spark.iloc[1:]
        changed = spark.copy()
        col = changed.columns[0]
        changed[col] = changed[col].astype(str).where(changed.index != changed.index[0], "tampered")
        selftest = [
            {"name": "selftest.oracle_missing_row_trips", "ok": same_frame(dropped, duck) is not None},
            {"name": "selftest.oracle_changed_value_trips", "ok": same_frame(changed, duck) is not None},
        ]
    return checks, selftest


# ------------------------------------------------------------------ main

def trace_overhead(workload, traced_pass_s):
    """The traced pass's time minus pass_s of the latest untraced run of
    the same workload in this checkout (None before any)."""
    prefix = f"{workload}-seed"
    runs = [os.path.join(RESULTS, f) for f in os.listdir(RESULTS) if f.startswith(prefix)
            and f.endswith("-trace0.json")] if os.path.isdir(RESULTS) else []
    if not runs:
        return None
    latest = max(runs, key=os.path.getmtime)
    with open(latest) as f:
        untraced = json.load(f)["metrics"]["pass_s"]
    return {"traced_pass_s": traced_pass_s, "untraced_pass_s": untraced,
            "overhead_s": traced_pass_s - untraced, "untraced_run": os.path.basename(latest)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = classpath()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report_path = os.path.join(work, "report.json")
    try:
        t0 = time.time()
        # Set-up: the input is derived SETUP_ROUNDS times into fresh
        # directories; setup_s is the median of that, plus the JVM's
        # session start and warm-up.
        derive_s, digests = [], []
        for i in range(SETUP_ROUNDS):
            d = os.path.join(work, "input" if i == 0 else f"input-{i}")
            t = time.perf_counter()
            digests.append(derive(args.seed, d))
            derive_s.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(d)
        run_jvm(cp, args, work, report_path)
        with open(report_path) as f:
            report = json.load(f)
        input_dir = os.path.join(work, "input")
        oracle, oracle_self = oracle_compare(report["oracle_targets"], input_dir)
        report["checks"].append({"name": "input.same_seed_same_bytes",
                                 "ok": all(d == digests[0] for d in digests), "detail": ""})
        report["oracle_checks"], report["oracle_selftest"] = oracle, oracle_self
        session_s = report["metrics"].pop("session_s")
        warmup_s = report["metrics"].pop("warmup_s")
        report["metrics"]["setup_s"] = session_s + statistics.median(derive_s) + warmup_s
        report["setup"] = {"session_s": session_s, "derive_s": derive_s, "warmup_s": warmup_s}
        report["input"] = {"seed": args.seed, "keep_percent": KEEP_PERCENT,
                           "rows": row_counts(input_dir), "sha256": digests[0]}
        report["hygiene"]["git_head"] = git_head()
        report["hygiene"]["nproc"] = len(os.sched_getaffinity(0))
        if args.trace:
            report["trace_overhead"] = trace_overhead(args.workload, report["per_layer"]["trace.pass_s"])
        report["wall_s"] = time.time() - t0
        os.makedirs(RESULTS, exist_ok=True)
        out = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = report["checks"] + oracle
    selftests = report["selftest"] + oracle_self
    for c in checks + selftests:
        if not c["ok"]:
            print(f"FAILED {c['name']}: {c.get('detail', '')}")
    source = report["per_layer"] if args.trace else report["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for k, v in report["workload_medians"].items():
        print(f"{k} {v}")
    if report.get("trace_overhead"):
        print(f"trace overhead {report['trace_overhead']['overhead_s']:.3f} s "
              f"(vs {report['trace_overhead']['untraced_run']})")
    attempted = report["attempted"] + len(oracle)
    failed = report["failed"] + sum(1 for c in oracle if not c["ok"])
    correct = failed == 0 and all(c["ok"] for c in checks + selftests)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
