#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the
repository's own build); later runs reuse the build while no source file
has changed. Each run starts one JVM with pinned cores and heap, whose
last standard-output line (one JSON object) is printed as this script's
last line. Scratch files go under perfbench/target/ and are removed after
the run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark 4 on JDK 17 needs these when it is not started by spark-submit
# (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
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


def sources_fingerprint():
    """Hash of the names, sizes and times of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"no {p} at the checkout root: nothing to build")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed on PATH")
    stamp = os.path.join(BUILD, "sources.sha256")
    fp = sources_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(l for l in lines if len(l) < 2000) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return lines[-1]


def java(classpath, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true",
                    help="show that every correctness check fails on corrupted outputs")
    a = ap.parse_args()
    classpath = build()
    work = os.path.join(BUILD, "work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, out = java(classpath, "perfbench.SelfTest", [], work)
            sys.stdout.write(out)
            sys.exit(code)
        if None in (a.workload, a.seed, a.seconds, a.trace):
            fail("--workload, --seed, --seconds and --trace are required")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--work", work]
        code, out = java(classpath, "perfbench.Main", args, work)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            fail(f"run failed (exit code {code})")
        json.loads(lines[-1])
        print(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
