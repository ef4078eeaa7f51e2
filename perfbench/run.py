#!/usr/bin/env python3
"""Paper-pipeline benchmark runner.

Builds the engine (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler shipped in the Spark distribution, runs the generator
test, then runs one workload and prints its result as the last line of
standard output:

    python3 perfbench/run.py --workload spatial_reads --seed 1 --seconds 10 --trace 0

Run it from the repository root. Build outputs, scratch buckets and the
per-run info/trace files live under .bench_build/ in the current directory.
Exits non-zero, printing no result, if the build, the generator test, any
output check or the result validation fails.
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

BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "2g"
WORKLOADS = ("ingest_merge", "spatial_reads", "overpass_grid")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"ERROR: {msg}")
    sys.exit(code)


def jars_dir():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit lives."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    d = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        fail("no Spark distribution found: set SPARK_HOME")
    return d


def sources(root):
    out = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    return out


def run_child(cmd, timeout):
    """Runs cmd with stdout sent to our stderr; kills it on timeout."""
    global _child
    _child = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _child.kill()
        _child.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    finally:
        _child = None


def build(jars):
    engine = sources("src/main/scala")
    bench = sources("perfbench/src")
    tests = sources("perfbench/test")
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    if not bench or not tests:
        fail("benchmark sources missing under perfbench/")
    h = hashlib.sha256()
    for f in engine + bench + tests:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    log("building engine and benchmark (first run in this checkout)")
    t0 = time.time()
    tmp = os.path.join(BUILD, "classes.tmp")
    test_tmp = os.path.join(BUILD, "test-classes")
    for d in (tmp, test_tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cp = os.path.join(jars, "*")
    scalac = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
    srcs = os.path.join(BUILD, "sources.txt")
    with open(srcs, "w") as fh:
        fh.write("\n".join(engine + bench))
    if run_child(scalac + ["-d", tmp, "@" + srcs], BUILD_TIMEOUT_S) != 0:
        fail("compilation failed")
    if run_child(scalac + ["-classpath", tmp, "-d", test_tmp] + tests, BUILD_TIMEOUT_S) != 0:
        fail("test compilation failed")
    if run_child(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join([test_tmp, tmp, cp]),
                  "perfbench.GeneratorTest"], 120) != 0:
        fail("generator test failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"build done in {time.time() - t0:.1f}s")
    return classes


def expected_metrics(trace):
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(result, trace):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result has keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0:
        fail("result reports failed checks")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        fail("result attempted no ops")
    want = expected_metrics(trace)
    if set(result["metrics"]) != want:
        fail(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json")
    for name, m in result["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            fail(f"metric {name} is malformed: {m}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    def on_term(signum, _frame):
        if _child is not None:
            _child.kill()
            _child.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)

    if not os.path.exists("BENCHMARK.json"):
        fail("BENCHMARK.json not found: run from the repository root")
    jars = jars_dir()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results = os.path.join(BUILD, "results")
    work = os.path.abspath(os.path.join(BUILD, "work", f"{tag}-{os.getpid()}"))
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(results, f"{tag}.json")
    info = os.path.join(results, f"{tag}.info.json")
    trace_out = os.path.join(results, f"{tag}.trace.json")
    for f in (out, info, trace_out):
        if os.path.exists(f):
            os.remove(f)
    here = os.path.dirname(os.path.abspath(__file__))
    # fixed heap size, so the collector's heap-resizing choices do not vary
    # between runs
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--info", info,
            "--trace-out", trace_out]
    try:
        code = run_child(cmd, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark exited with code {code}")
    if os.path.exists(info):
        with open(info) as fh:
            log("info " + fh.read())
    with open(out) as fh:
        result = json.load(fh)
    validate(result, a.trace == 1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
