#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage, from the repository root:
  python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

The first run builds the repository and the harness with sbt (about a
minute); later runs reuse the build while the sources are unchanged. A run
starts one JVM (perfbench.Main), which prints `REPORT {...}` with every
measured value and `RESULT {...}` with the metrics; this launcher echoes
the report, attaches units from BENCHMARK.json, and prints one JSON object
as the last line. It exits non-zero without printing a result when
anything fails.
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
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.fingerprint")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# as the main build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    return p.returncode


def ensure_build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die("no %s at the repository root; cannot build" % need)
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return open(CLASSPATH).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       HERE, BUILD_LIMIT_S, out, subprocess.STDOUT, env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed (log: %s)" % log)
    with open(STAMP, "w") as f:
        f.write(fp)
    return open(CLASSPATH).read().strip()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("no BENCHMARK.json at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die("unknown workload %r" % a.workload)
    metric_spec = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in metric_spec}

    cp = ensure_build()
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed heap keeps peak RSS comparable between runs
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir, "--data", os.path.join(HERE, "data", "sf0.01"),
            "--hashes", os.path.join(HERE, "hashes", a.workload + ".json")]
    out_path = os.path.join(WORK, "run-%d.out" % os.getpid())
    err_path = os.path.join(WORK, "run-%d.err" % os.getpid())
    # the build has its own limit; this one bounds the JVM run alone
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_group(cmd, ROOT, RUN_LIMIT_S, out, err)
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(err_path) as f:
        for line in f:
            if line.startswith("perfbench "):
                sys.stderr.write(line)
    lines = open(out_path).read().splitlines()
    report = next((l[7:] for l in lines if l.startswith("REPORT ")), None)
    result = next((l[7:] for l in lines if l.startswith("RESULT ")), None)
    if rc != 0 or report is None or result is None:
        sys.stderr.write(open(err_path).read()[-4000:])
        die("workload run failed (exit %s, timeout=%s)" % (rc, rc is None))
    os.remove(out_path)
    os.remove(err_path)
    report, result = json.loads(report), json.loads(result)

    values = result["metrics"]
    if set(values) != set(units):
        die("metric names differ from BENCHMARK.json: missing %s, extra %s" % (
            sorted(set(units) - set(values)), sorted(set(values) - set(units))))
    missing = sorted(k for k, v in values.items() if not isinstance(v, (int, float)))
    if missing:
        die("no value measured for %s" % missing)
    print("REPORT " + json.dumps(report))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metric_spec},
    }))


if __name__ == "__main__":
    main()
