#!/usr/bin/env python3
"""Run one workload of the KG benchmark from the root of a checkout.

    python3 kgbench/run.py --workload <build_skewed|parse_link|sparql_mix>
                           --seed <n> --seconds <s> --trace <0|1>
    python3 kgbench/run.py --self-test

Builds the benchmark together with the program's sources (kgbench/build.sbt)
when either changed, then runs kgbench.Main in one JVM. The last line of
standard output is the result JSON; Spark and sbt logs go to standard error.
Everything the run writes stays under kgbench/target/.
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
STAMP = os.path.join(TARGET, "kgbench.stamp")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft", "kg", "Materialize.scala")
WORKLOADS = ("build_skewed", "parse_link", "sparql_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """sha256 over the build inputs: the benchmark's build files and sources
    and the program's main sources."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("kgbench: building (sbt compile)", file=sys.stderr)
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"kgbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def heap_mb():
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2048, min(4096, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


def java_cmd(work, main, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    heap = heap_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += [
        f"-Xmx{heap}m", f"-Xmn{heap * 2 // 5}m", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ]
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    return [java] + opts + ["-cp", cp, main] + args


def run_child(cmd, env):
    """Runs the JVM in its own process group; returns (code, stdout lines)."""
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out.splitlines()


def main():
    # a terminated run stops its JVM too (run_child kills the process group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show that every output check rejects a wrong count or a reused outDir")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.exists(PROGRAM):
        fail(f"program sources not found ({os.path.relpath(PROGRAM, ROOT)}); run from a full checkout", 2)

    digest = source_digest()
    build(digest)
    run_id = "selftest" if a.self_test else f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(TARGET, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ, KGBENCH_GIT_COMMIT=git_commit(), KGBENCH_SOURCE_DIGEST=digest)
    try:
        if a.self_test:
            code, lines = run_child(java_cmd(work, "kgbench.SelfTest", ["--work", os.path.join(work, "data")]), env)
            print("\n".join(lines))
            sys.exit(code)
        trace_out = os.path.join(TARGET, "traces", f"{run_id}-{int(time.time())}.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", os.path.join(work, "data"), "--trace-out", trace_out]
        code, lines = run_child(java_cmd(work, "kgbench.Main", args), env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines), file=sys.stderr)
        fail(f"run failed (exit {code}) without a result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
