#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload oltp_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file has changed. Every metric is printed at column 0
as `name value unit`; the last line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). A traced run also writes
its spans to .bench_work/traces/ and, when an untraced run of the same
workload and seed is on record, prints the tracing overhead. The exit status
is 1, after the JSON line, when an output check failed (`correct` false).

Spark is found through SPARK_HOME, or else through `spark-submit` on PATH.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build-stamp.txt")
WORKLOADS = ("oltp_mixed", "analytics_batch")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in roots:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the install whose bin/ holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found: set SPARK_HOME or put spark-submit on PATH")
    return home


def build():
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def launch(args, work, out):
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(line.strip() for line in f if line.strip())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    fingerprints = os.path.join(HERE, "fingerprints.txt")
    cmd += ["--record", fingerprints] if args.record else ["--expected", fingerprints]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"workload {args.workload} did not finish (exit {rc})")


def fmt(v):
    return "null" if v is None else repr(float(v))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record result fingerprints instead of checking them")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from a full checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java must be on PATH")

    build()
    work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        launch(args, work, out)
        with open(out) as f:
            res = json.load(f)
    finally:
        logs = os.path.join(WORK, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(
                logs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump({k: res[k] for k in ("correct", "attempted", "failed", "failures", "e2e")}, f)

    metrics = res["layer"] if args.trace else res["e2e"]
    for name, m in metrics.items():
        print(f"{name} {fmt(m['value'])} {m['unit']}")
    for name, m in res["extra"].items():
        print(f"{name} {fmt(m['value'])} {m['unit']}")
    print(f"attempted {res['attempted']} count")
    print(f"failed {res['failed']} count")
    for cause in res["failures"]:
        print(f"failure {cause}")
    for note in res["notes"]:
        print(f"note {note}")
    if args.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{tag}.json"), "w") as f:
            json.dump(res, f)
        base = os.path.join(results, f"{tag}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)["e2e"]
            for name, m in res["e2e"].items():
                if name in plain and m["value"] is not None and plain[name]["value"] is not None:
                    print(f"overhead.{name} {fmt(m['value'] - plain[name]['value'])} {m['unit']}")

    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
