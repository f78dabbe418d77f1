#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <ingest|lifecycle|analytics> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft's main sources
together with the benchmark's Scala files (sbt, in perfbench/); later
runs reuse the build. Each run starts one JVM on local[<cores>], which
sets up four times, measures for --seconds and checks its results;
`analytics` reads the repository's sf0.1 tables, copied into
perfbench/data/sf0.1, and its results are then checked against DuckDB
running each query's `SparkEntry.oracleSql` (scripts/oracle_check.py).

The last line of stdout is one JSON object: correct, attempted, failed
and metrics — the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. The line before it names every
figure the run measured, the workload's own and the end-to-end ones, with
their units (with --trace 1 they are measured with tracing on). The exit
code is non-zero when a check fails or the run cannot complete; a traced
run also fails when its spans leave more than 5% of the timed wall, or
of the Spark jobs started in it, unattributed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
DATA = os.path.join(HERE, "data", "sf0.1")
ORACLE = os.path.join(ROOT, "scripts", "oracle_check.py")
RUNS = os.path.join(HERE, ".runs")
WORKLOADS = ("ingest", "lifecycle", "analytics")
DEADLINE_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
MIN_COVERAGE = 0.95


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, work, out, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "spark"), "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark_jars}",
            "graft.perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, DATA, out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("the benchmark JVM timed out" if rc is None
             else f"the benchmark JVM exited with {rc}")


def oracle_failures(results):
    """Each query's Spark result against its oracle SQL run by DuckDB on
    the same tables, by the repository's own oracle comparator."""
    r = subprocess.run([sys.executable, ORACLE, DATA, results],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    out = [line[5:] for line in r.stdout.splitlines()
           if line.startswith("FAIL ")]
    if r.returncode != 0 and not out:
        out.append(f"oracle check exited with {r.returncode}: "
                   f"{r.stdout[-2000:]}")
    return out


def trace_failures(layers):
    """A traced run must attribute its timed wall and its Spark jobs."""
    out = []
    if layers["trace.coverage"] < MIN_COVERAGE:
        out.append(f"spans cover {layers['trace.coverage']:.3f} of the "
                   f"timed wall, below {MIN_COVERAGE}")
    if layers["trace.unbilled_jobs_share"] > 1 - MIN_COVERAGE:
        out.append(f"{layers['trace.unbilled_jobs_share']:.3f} of the "
                   f"timed Spark jobs started outside every span")
    return out


def unit(name):
    if name.endswith(("_share", "_amp")):
        return "ratio"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or "_s_per_" in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not here; run "
             "from the root of a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload == "analytics" and not os.path.isfile(ORACLE):
        fail("scripts/oracle_check.py is not here")
    build()
    deadline = max(deadline, time.time() + 150)  # a first build is not billed
    work = os.path.join(RUNS, f"{args.workload}-{args.seed}-{args.trace}"
                              f"-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(args, work, out, deadline)
        with open(out) as fh:
            res = json.load(fh)
        failures = list(res["failures"])
        if args.workload == "analytics":
            failures += oracle_failures(os.path.join(work, "results"))
        if args.trace:
            failures += trace_failures(res["per_layer"])
        if res["summary"].get("lander_late_s", 0) > 0:
            failures.append("the lander ran late: the open loop was not kept")
        failed = res["failed"] + len(failures) - len(res["failures"])
        keep = os.path.join(RUNS, f"last-{args.workload}-{args.trace}.json")
        with open(keep, "w") as fh:
            json.dump(dict(res, failures=failures), fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = {n: res["per_layer"].get(n, 0.0) for n in names}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {m["name"]: res["end_to_end"][m["name"]]
                  for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    figures = dict(res["summary"], **res["end_to_end"])
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={res['cores']}: "
          + ", ".join(f"{k}={v:.6g} {unit(k)}"
                      for k, v in sorted(figures.items())))
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in values.items()}}))
    sys.exit(0 if not failures and failed == 0 else 1)


if __name__ == "__main__":
    main()
