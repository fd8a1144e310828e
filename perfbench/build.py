#!/usr/bin/env python3
"""Builds the engine and the benchmark's JVM code into <build dir>/classes.

Compiles src/main/scala (the engine, unchanged) together with
perfbench/src (the benchmark's workloads) with the Scala compiler that ships
among the Spark jars named by build.sbt's `unmanagedBase`. A stamp of
the sources skips the compile when nothing changed.

    python3 perfbench/build.py [build_dir]     # default .bench_build
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
# A fixed heap and young generation, so the resident-set high-water mark
# follows live data rather than the collector's adaptive sizing.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
# Spark on JDK 17 outside spark-submit needs these (build.sbt uses the same list).
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jar directory build.sbt compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build.sbt names no usable unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("no engine sources under src/main/scala")
    return main + bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(classes, work):
    """The command line that runs perfbench.Main in a JVM whose temp dir,
    Spark local dir, warehouse and Derby home all lie under `work`."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse", "home")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return (["java"] + JVM_MEMORY + ["-XX:-UsePerfData", "-Duser.timezone=UTC"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + [f"-Djava.io.tmpdir={dirs['tmp']}",
               f"-Dspark.local.dir={dirs['spark-local']}",
               f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
               f"-Dderby.system.home={dirs['home']}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
               "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
               "perfbench.Main"]), dirs["home"]


def build(out=None):
    """Returns (classes dir, source hash), compiling when stale."""
    out = out or build_dir()
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    files = sources()
    stamp = source_hash(files)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, stamp
        staging = classes + ".tmp"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", staging, "-classpath", cp] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes, stamp


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None)[0])
