#!/usr/bin/env python3
"""Build and run the graft diff benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's main sources
together with the benchmark (sbt, offline) and caches the result under
perfbench/target, keyed by a hash of every source file; later runs launch the
JVM directly. The JSON result line of the run is printed last on stdout. The
exit code is the benchmark's: 0 when every operation's output was correct.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench.stamp")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]  # names the Spark jars directory
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the cached build matches `stamp`."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def revision(stamp):
    """The git commit of the checkout, else a hash of the sources it builds."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "src-" + stamp[:12]
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + stamp[:12]


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources not found under " + ROOT)
    stamp = source_hash()
    build(stamp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(TARGET, "work", "%s-%d" % (a.workload, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spans = os.path.join(TARGET, "spans", "%s-seed%d.jsonl" % (a.workload, a.seed))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # C1 only: operation times are flat after one warm-up operation
        # instead of falling over the first five or six (see README.md)
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--spans", spans, "--rev", revision(stamp)]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    result = None
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_group(p)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    kill_group(p)  # reaps any child the JVM left behind
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = line
        else:
            print(line)
    if result is None:
        sys.exit("perfbench: no result (exit %d)" % p.returncode)
    print(result, flush=True)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
