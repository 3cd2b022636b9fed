#!/usr/bin/env python3
"""The repository's benchmark: the paper's KG pipeline, a latency-bound LLM
stage and the registered-query fleet, end to end and per layer.

Run from the root of a checkout:

    python3 kgbench/run.py --workload kg_pipeline --seed 1 --seconds 10 --trace 0

It builds the program and the benchmark from source (once per source
state), runs the workload in one JVM at local[<cpus>] (query_fleet at half
the cpus), checks the outputs
and prints, as its last stdout line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 they are its per-layer
metrics, from a separate traced run whose spans are written to
.kgbench/traces/. The line before it carries the checks and host load.
Exit code 0 means every output check passed.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".kgbench")
CLASSES = os.path.join(BENCH_DIR, "target", "scala-2.13", "classes")
JAR = os.path.join(STATE, "kgbench.jar")
# class-data-sharing archive: a run maps the classes its JVM would
# otherwise load and verify one by one (about 9 s of a 4-cpu run)
CDS = os.path.join(STATE, "kgbench.jsa")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"]


def fail(msg, code):
    print(f"[kgbench] {msg}", file=sys.stderr)
    sys.exit(code)


def tail(path, n=60):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(BENCH_DIR, "src", "**", "*"), recursive=True) +
                   [os.path.join(BENCH_DIR, "build.sbt"),
                    os.path.join(BENCH_DIR, "project", "build.properties")])
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program's sources and the benchmark with sbt, packs them
    in one jar and records a class-data-sharing archive from one short run,
    unless all of it already matches the sources."""
    os.makedirs(STATE, exist_ok=True)
    stamp = os.path.join(STATE, "build.stamp")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == digest:
            return
        for p in (stamp, JAR, CDS):
            if os.path.exists(p):
                os.remove(p)
        log = os.path.join(STATE, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                    cwd=BENCH_DIR, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0:
            sys.stderr.write(tail(log))
            fail("build failed", 3)
        jar = shutil.which("jar", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) or "jar"
        subprocess.run([jar, "cf", JAR, "-C", CLASSES, "."], check=True)
        work = os.path.join(STATE, "work-cds")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        args = argparse.Namespace(workload="kg_pipeline", seed=0, seconds=1, trace=0)
        rc = jvm(args, work, [f"-XX:ArchiveClassesAtExit={CDS}"], RUN_LIMIT_S)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0 and os.path.exists(CDS):
            os.remove(CDS)  # runs go on without the archive
        with open(stamp, "w") as f:
            f.write(digest)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME to a Spark 4 distribution", 2)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars", "*")


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(args, work, extra, limit):
    """Runs the benchmark's JVM on one workload; its output goes to
    <work>/jvm.log. Returns the exit code ("timeout" if it was killed)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, *ADD_OPENS, *extra, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "src", "main", "resources", "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{JAR}{os.pathsep}{spark_jars()}", "kgbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace), work]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            return subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=limit).returncode
        except subprocess.TimeoutExpired:
            return "timeout"


def run_jvm(args, work, limit):
    extra = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    rc = jvm(args, work, extra, limit)
    log = os.path.join(work, "jvm.log")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write(tail(log))
        fail(f"benchmark JVM failed ({rc})", 4)
    sys.stderr.write("".join(l for l in tail(log, 400).splitlines(True) if "[kgbench]" in l))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_checks(sf_dir, out_dir, fleet):
    """Each fleet query's Spark result against its DuckDB oracle, compared
    the way the project's oracle gate (tools/check.py) compares them."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checks = []
    for q in fleet:
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        try:
            if q not in oracle:
                raise ValueError("no oracle SQL registered")
            if not files:
                raise ValueError("no Spark output")
            got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
            exp = con.sql(oracle[q]).df()
            if len(got) != len(exp):
                raise ValueError(f"rows {len(got)} vs oracle {len(exp)}")
            if sorted(map(str.lower, got.columns)) != sorted(map(str.lower, exp.columns)):
                raise ValueError(f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}")
            if canon(got) != canon(exp):
                raise ValueError("row hash differs from the oracle")
            checks.append({"name": f"oracle:{q}", "ok": True, "detail": f"{len(got)} rows"})
        except Exception as e:  # a failed comparison is a failed check, not a crash
            checks.append({"name": f"oracle:{q}", "ok": False, "detail": str(e)[:300]})
            print(f"[kgbench] CHECK FAILED oracle:{q}: {e}", file=sys.stderr)
    con.close()
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala"))):
        fail("run from the root of a graft checkout: the program's sources are missing", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)

    build()
    work = os.path.join(STATE, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = run_jvm(args, work, RUN_LIMIT_S)

    checks = result["checks"]
    attempted, failed = result["attempted"], result["failed"]
    if args.workload == "query_fleet":
        oc = oracle_checks(result["sf_dir"], result["oracle_dir"], result["fleet"])
        checks += oc
        attempted += len(oc)
        failed += sum(not c["ok"] for c in oc)
    metrics = result["metrics"]
    metrics["ok_frac"] = 1.0 - failed / max(1, attempted)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        metrics["error_frac"] = failed / max(1, attempted)
        # metrics of layers the workload does not run read 0; any other
        # metric the run did not produce fails it below
        for m in declared:
            name = m["name"]
            if name not in metrics and any(name == p or name.startswith(p + ".")
                                           for p in result["not_run"]):
                metrics[name] = 0.0
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        trace = json.load(open(os.path.join(work, "trace.json")))
        trace["per_layer"] = metrics
        trace["checks"] = checks
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(trace, f, indent=1)

    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {missing}", 5)
    correct = all(c["ok"] for c in checks)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "host": result["host"],
                      "wall_s": round(time.time() - t_start, 1),
                      "pass_s": result.get("pass_s"), "query_s": result.get("query_s"),
                      "checks_failed": [c for c in checks if not c["ok"]],
                      "checks_passed": sum(c["ok"] for c in checks)}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                                  for m in declared}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
