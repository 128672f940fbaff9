#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the benchmark package (perfbench/build.sbt, which compiles the
checkout's src/main/scala together with the harness) when its sources
changed, then runs the harness in one JVM. The last line of standard
output is the result object; build and engine logs go to standard error.
Exits non-zero without a result when the checkout holds no program.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("cdc", "batch_queries")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    files = [root / "perfbench/build.sbt", root / "perfbench/project/build.properties"]
    for d in (root / "src/main/scala", root / "perfbench/src/main/scala"):
        files += sorted(d.rglob("*.scala"))
    return files


def build(root, work):
    """Compile with sbt unless the sources match the last build's stamp.

    Returns the class directory and the stamp (a hash of every source).
    """
    h = hashlib.sha256()
    for f in sources(root):
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    stamp = work / "build.stamp"
    classes = root / "perfbench/target/scala-2.13/classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes, h.hexdigest()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           f"-Djava.io.tmpdir={work / 'tmp'}", "compile"]
    try:
        r = subprocess.run(cmd, cwd=root / "perfbench", env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    if r.returncode != 0 or not classes.is_dir():
        die("build failed", 3)
    stamp.write_text(h.hexdigest())
    return classes, h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        die("--workload, --seed, --seconds and --trace are required")

    root = Path.cwd().resolve()
    if not (root / "src/main/scala/graft").is_dir():
        die(f"no program sources under {root}/src/main/scala; run from a checkout root")
    if not (root / "perfbench/build.sbt").is_file():
        die("perfbench/build.sbt is missing")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not Path(spark_home, "jars").is_dir():
        die("SPARK_HOME must point at a Spark installation")

    work = root / "perfbench/work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    classes, stamp = build(root, work)

    java = Path(os.environ["JAVA_HOME"], "bin/java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{Path(spark_home, 'jars')}/*", "perfbench.Main",
            "--root", str(root), "--stamp", stamp]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    if not a.selftest:
        # Keep the run's trace files; drop its corpora, sinks and checkpoints.
        run_dir = work / f"{a.workload}-seed{a.seed}-trace{a.trace}"
        for p in run_dir.glob("*"):
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
