#!/usr/bin/env python3
"""Entity-matching benchmark: build, then run one workload.

    python3 embench/run.py --workload large_gt --seed 1 --seconds 10 --trace 0
    python3 embench/run.py --workload all          # every workload in turn

Run from the root of a checkout. The first run compiles the program's
sources (src/main) together with the benchmark (embench/src) with sbt, in
offline mode, and caches the classpath under .bench_build/ keyed by a hash of
the sources; later runs start the JVM directly. Everything the run writes
(classes, Spark scratch, span files) stays inside the checkout.

The JVM prints a human-readable report and, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. A run that cannot
build or does not finish exits non-zero without printing that object.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "embench")
WORKLOADS = ["large_gt", "scored_names", "train"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"embench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def spark_home():
    """The Spark install whose jars the program compiles against: $SPARK_HOME,
    else the install that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME")
    return home


def build():
    """Compile once per source state; return the runtime classpath and the
    source-state key."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main')}")
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    cp_file = os.path.join(WORK, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), key
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("embench: building (sbt compile)", file=sys.stderr, flush=True)
    try:
        p = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Compile/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    classes = os.path.join(HERE, "target")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and classes in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    os.makedirs(WORK, exist_ok=True)
    for old in os.listdir(WORK):
        if old.startswith("classpath-"):
            os.remove(os.path.join(WORK, old))
        elif old.startswith("cache-"):
            shutil.rmtree(os.path.join(WORK, old))
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    return cp[-1], key


def run_jvm(cp, key, args):
    """Run embench.Main, relaying its report as it comes; return (exit code,
    JSON result line or None). Killed, with its process group, after
    RUN_TIMEOUT_S."""
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        f"-Dembench.cache={os.path.join(WORK, 'cache-' + key)}",
        "-cp", cp, "embench.Main", *args,
    ]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp, key = build()
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        args = ["--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        if a.trace:
            args += ["--spans", os.path.join(WORK, f"spans_{w}_{a.seed}.jsonl")]
        rc, result = run_jvm(cp, key, args)
        if rc != 0 or result is None:
            fail(f"workload {w} exited with code {rc} and no result", 1)
        print(result, flush=True)


if __name__ == "__main__":
    main()
