#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and
the benchmark with sbt (offline); later runs reuse the build until a
source file changes. Each run is one cold `spark-submit` in local mode
with one core per CPU this process may use. Everything the run writes
stays under perfbench/.work/ and perfbench/target/ plus the engine's own
target/ directories.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. The line before it is the run's full report (every per-kind
median with its sample count and tail, the seed, and the trace checks).
Exit status is 0 only when the run finished and every output was correct.
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
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("deletion_workflow", "dml_mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Content hash of every input of the two builds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def jvm_opts(tmp):
    """Keep every JVM's temp files and perf data out of the system temp dir."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def build():
    """Compile both builds; return the class path entries inside the checkout."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp["hash"] == digest and all(os.path.exists(p) for p in stamp["classpath"]):
            return stamp["classpath"]
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS=jvm_opts(tmp))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "export perfbench/Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                             capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        errors = [l for l in out.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40] or lines[-20:]) + "\n" + out.stderr[-2000:])
        fail("build failed")
    entries = lines[-1].strip().split(os.pathsep)
    # Spark and Scala come from spark-submit; keep what this checkout built
    local = [p for p in entries if os.path.abspath(p).startswith(ROOT + os.sep)]
    if not any(p.endswith(".jar") for p in local):
        fail(f"unexpected class path from sbt: {lines[-1][:300]}")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"hash": digest, "classpath": local}, f)
    return local


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}; run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("spark-submit") is None:
        fail("sbt and spark-submit must be on PATH")

    classpath = build()
    jar = next(p for p in classpath if p.endswith(".jar") and "perfbench" in os.path.basename(p))
    others = [p for p in classpath if p != jar]

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    cpus = len(os.sched_getaffinity(0))
    cmd = ["spark-submit", "--master", f"local[{cpus}]", "--driver-memory", "3g",
           "--conf", f"spark.driver.extraJavaOptions=-Dderby.system.home={WORK}",
           "--driver-class-path", os.pathsep.join(others),
           "--class", "perfbench.Main", jar,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", WORK, "--cpus", str(cpus)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
               JAVA_TOOL_OPTIONS=jvm_opts(os.path.join(WORK, "tmp")))
    with open(os.path.join(WORK, "run.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log.name}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()

    lines = [l for l in out.splitlines() if l.startswith("{")]
    try:
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"run ended with status {proc.returncode} and no result; see {log.name}")
    print(json.dumps(report))
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
