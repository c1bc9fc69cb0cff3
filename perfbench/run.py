#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark's own sources with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The benchmark JVM runs one
workload and writes its result; this script adds the checks that need
DuckDB (the `queries` oracle row counts) and prints the result JSON as the
last line of standard output. Everything it writes stays inside the
checkout: .bench_build/ (build stamp and class path), .bench_run/ (work
directories, removed after each run) and .bench_out/ (results and spans).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("fed-sup", "queries", "fed-embed")
RUN_DEADLINE_S = 170
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the class path."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]))
    log("building (sbt compile)")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, work, result):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "--add-modules=jdk.incubator.vector",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--result", result]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_DEADLINE_S)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {RUN_DEADLINE_S}s; killing it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def check_queries(work, result):
    """Compare every timed query's observed row count with the DuckDB oracle
    on the same generated corpus; each mismatch is a failed operation."""
    import duckdb
    with open(os.path.join(work, "query_runs.json")) as f:
        runs = json.load(f)
    con = duckdb.connect()
    for t in runs["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{runs['corpus']}/{t}.parquet/*.parquet')")
    want = {q: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for q, sql in runs["oracle"].items()}
    bad = [(q, n, want[q]) for q, n, _ in runs["observed"] if n != want[q]]
    for q, n, w in sorted(set(bad)):
        log(f"{q}: {n} rows, oracle {w}")
    slow = sorted(runs["observed"], key=lambda o: -o[2])[:5]
    log("slowest: " + ", ".join(f"{q} {w:.2f}s" for q, _, w in slow))
    result["failed"] += len(bad)
    result["correct"] = result["correct"] and not bad
    if "error_rate" in result["metrics"]:
        result["metrics"]["error_rate"]["value"] = result["failed"] / result["attempted"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    cp = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".bench_run", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    result_file = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    try:
        code = run_jvm(cp, args, work, result_file)
        if code != 0 or not os.path.exists(result_file):
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
        with open(result_file) as f:
            result = json.load(f)
        if args.workload == "queries":
            check_queries(work, result)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(result_file, "w") as f:
        json.dump(result, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
