#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|batch|serve --seed N \
        --seconds S --trace 0|1 [--scale sf0.1|sf0.01|sf0.001]

Builds the harness together with the engine's sources (once per source
state), runs the workload in a fresh JVM inside its own run directory,
checks the outputs, deletes the run directory and prints, as the last line
of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1, its per-layer metrics. Every metric the run produced is
printed by name and unit on the lines before it. Exits non-zero without a
result line when the build, the run or a metric is missing.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
RUNS = os.path.join(BENCH, "runs")
JVM_TIMEOUT_S = 165

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    """SPARK_HOME, or the first Spark distribution (bin/spark-submit beside
    a jars directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    fail("SPARK_HOME is not set and no Spark distribution is on PATH")


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in (ENGINE_SRC, os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness and the engine with sbt, unless the classes on
    disk were built from the same sources."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, run_dir):
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir]
    if args.scale:
        cmd += ["--scale", args.scale]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("JVM timed out" if code is None else f"JVM exited with {code}")


def oracle_check(run_dir):
    """Compare each batch query's written output with its DuckDB oracle over
    the same generated tables, with the repository's own oracle comparison
    (scripts/check_oracle.py). Returns the names that differ."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracle import canon, kind
    work = os.path.join(run_dir, "work")
    data = sorted(glob.glob(os.path.join(work, "data_*")))[-1]
    out = os.path.join(work, "out")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    bad = []
    for q, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out, q, "*.parquet"))
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                        if files else pd.DataFrame())
            want = canon(con.execute(sql).fetchdf())
            ok = (list(got.columns) == list(want.columns) and len(got) == len(want)
                  and [kind(got[c].dtype) for c in got.columns]
                  == [kind(want[c].dtype) for c in want.columns])
            if ok:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except Exception as e:  # any mismatch or oracle error is a wrong answer
            print(f"oracle {q}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", default=None)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    if args.workload not in ("ingest", "serve", "batch"):
        fail(f"unknown workload {args.workload}")
    build()

    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    run_jvm(args, run_dir)
    result = json.load(open(os.path.join(run_dir, "result.json")))
    metrics = result["metrics"]
    failed = result["failed"]
    problems = list(result["problems"])
    if args.workload == "batch" or args.trace:
        bad = oracle_check(run_dir)
        failed += len(bad)
        problems += [f"oracle mismatch: {q}" for q in bad]
    shutil.rmtree(run_dir, ignore_errors=True)
    left = len(os.listdir(run_dir)) + 1 if os.path.exists(run_dir) else 0
    metrics["rig.scratch_dirs_left"] = {"value": left, "unit": "count"}

    attempted = max(1, result["attempted"])
    metrics["failed_share"] = {"value": failed / attempted, "unit": "fraction"}
    for p in problems:
        print(f"problem: {p}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {', '.join(missing)}")
    wrong_unit = [m["name"] for m in wanted if metrics[m["name"]]["unit"] != m["unit"]]
    if wrong_unit:
        fail(f"metrics in another unit than BENCHMARK.json names: {', '.join(wrong_unit)}")
    correct = failed == 0 and not problems
    print(f"correct {str(correct).lower()}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: metrics[m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
