#!/usr/bin/env python3
"""Product-path benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from the checkout's sources
(once per source state, cached under .bench_build/), then runs one JVM
that drives the workload and prints the result as the last stdout line.
`--selftest` runs the benchmark's own unit tests instead.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = "perfbench"
ENGINE_SRC = os.path.join("src", "main", "scala")
BUILD_ROOT = os.path.join(".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so a cached build is reused only
    for the exact sources it was made from."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    # the toolchain is offline: never let dependency resolution go remote
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    return env


def run_bounded(cmd, cwd, env, timeout, stdout=None):
    """Run `cmd` in its own process group; kill the whole group on
    timeout and wait for it, so nothing outlives this script."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(tasks, log=True):
    """Compile with sbt (or reuse the cached build); returns the runtime
    classpath. sbt's output goes to the build log, or to stdout when `log`
    is false."""
    stamp = os.path.join(BUILD_ROOT, "built-" + source_digest())
    cp_file = os.path.join(BUILD_ROOT, "target", "classpath.txt")
    if tasks == ["writeClasspath"] and os.path.exists(stamp) \
            and os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD_ROOT, exist_ok=True)
    with open(os.path.join(BUILD_ROOT, "build.log"), "ab") as fh:
        code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false"] + tasks,
                           BENCH_DIR, sbt_env(), BUILD_TIMEOUT_S,
                           stdout=fh if log else None)
    if code != 0:
        fail("build failed (see %s/build.log)" % BUILD_ROOT)
    for old in os.listdir(BUILD_ROOT):
        if old.startswith("built-"):
            os.remove(os.path.join(BUILD_ROOT, old))
    open(stamp, "w").close()
    with open(cp_file) as fh:
        return fh.read().strip()


def main():
    # a terminated benchmark takes its JVM or sbt down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(
            os.path.join(BENCH_DIR, "build.sbt")):
        fail("run from the root of a checkout holding %s and %s/"
             % (ENGINE_SRC, BENCH_DIR))
    if a.selftest:
        build(["test", "writeClasspath"], log=False)
        return 0
    if a.workload is None or a.seed is None or a.seconds is None:
        fail("--workload, --seed and --seconds are required")

    cp = build(["writeClasspath"])
    run_dir = os.path.abspath(os.path.join(BUILD_ROOT, "run-%d" % os.getpid()))
    out_dir = os.path.abspath(os.path.join(BUILD_ROOT, "results"))
    os.makedirs(run_dir, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", os.path.join(run_dir, "work"), "--out", out_dir]
    try:
        code = run_bounded(cmd, run_dir, dict(os.environ), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
