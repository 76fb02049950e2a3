#!/usr/bin/env python3
"""Build file of the lifecycle benchmark.

Compiles the engine (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/perfbench/perfbench.jar of the
checkout, then trains a class-data-sharing archive for the run JVMs.
A stamp of every source's content makes a second call a no-op until a
source changes.

Usage: python3 perfbench/build.py            (from the root of a checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
STAMP = os.path.join(OUT, "build.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HERE = os.path.dirname(os.path.abspath(__file__))
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(jars, extra):
    """The JVM command line every run uses (perfbench/run.py adds the
    archive); the class-data archive is only valid for this exact one."""
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"] + extra
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main"]


def train(jars, data):
    """Runs the small training pass once and archives the classes it
    loaded, so each run's JVM starts from a class-data-sharing archive
    instead of loading Spark's classes one by one."""
    work = os.path.join(OUT, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(jars, ["-XX:ArchiveClassesAtExit=" + ARCHIVE + ".tmp",
                          "-Xlog:cds=error,cds+dynamic=error",
                          "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                          "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
                          "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")])
    cmd += ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--data", data, "--work", work, "--cpus", "2", "--traces", work]
    rc = subprocess.run(cmd, cwd=work, stdout=sys.stderr).returncode
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE + ".tmp"):
        raise SystemExit("perfbench: training run failed (%d)" % rc)
    os.replace(ARCHIVE + ".tmp", ARCHIVE)


def build(data):
    """Compiles (when a source changed), jars the classes and trains the
    class-data archive. Returns the Spark jar directory."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    files = sources()
    # the JVM options live here and the archive is only valid for them
    stamp = stamp_of(files + [os.path.join(HERE, "build.py"),
                              os.path.join(HERE, "log4j2.properties")] +
                     [os.path.join(dp, f) for dp, _, fs in os.walk(RESOURCES) for f in fs])
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return jars
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr, flush=True)
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit("perfbench: compile failed (%d)" % rc)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for dp, _, fs in sorted(os.walk(tmp)):
            for f in sorted(fs):
                p = os.path.join(dp, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.replace(JAR + ".tmp", JAR)
    print("perfbench: training the class-data archive", file=sys.stderr, flush=True)
    train(jars, data)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return jars


def data_dir():
    """The sf0.1 fixture directory: $PERFBENCH_DATA, else the sf 0.1 row
    of the repository's TESTDATA.md."""
    env = os.environ.get("PERFBENCH_DATA")
    if env:
        return env
    doc = os.path.join(ROOT, "TESTDATA.md")
    if os.path.exists(doc):
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
        if m:
            return m.group(1).rstrip("/")
    raise SystemExit("perfbench: no fixture directory (set PERFBENCH_DATA)")


if __name__ == "__main__":
    build(data_dir())
