#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`, `perfbench/test`) with the Scala 2.13 compiler
that ships among Spark's jars (the jars the program's sbt build compiles
against), packs the classes into `.bench_build/bench.jar`, and records a
class-data-sharing archive (`bench.jsa`) from one small KgRunner build, so
that every benchmark process starts with the JDK, Spark and program classes
it shares with that build already parsed. A stamp of the source hashes skips all of it when nothing
changed.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
JSA = os.path.join(BUILD, "bench.jsa")
STAMP = os.path.join(BUILD, "stamp")
XMX = "3g"
XMN = "256m"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src"), os.path.join(HERE, "test")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        sys.exit("perfbench: no java found; set JAVA_HOME")
    return exe


def sources():
    found = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(main, args, jvm_flags=()):
    """The command that runs `main` from bench.jar with Spark on the
    classpath; every benchmark JVM, and the archive's recording run, uses
    these flags."""
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    # The heap is fixed (-Xms = -Xmx): a heap that grows with GC timing
    # made VmHWM vary by 23-35 % between runs. The young generation is fixed
    # too: left to G1 it grows to 60 % of the heap, so each cold run touches
    # about 2 GB of fresh pages before its first collection (0.9M page
    # faults against 0.37M at 256 MB), and on a virtual machine that hands
    # freed memory back to its host every such page is faulted in from the
    # host again, at a cost that follows the host's memory load.
    cmd = [java(), f"-Xms{XMX}", f"-Xmx{XMX}", f"-Xmn{XMN}",
           f"-Djava.io.tmpdir={BUILD}/tmp", *jvm_flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
                  main] + list(args)


def build():
    """Compile, pack and record the archive if the sources changed; return
    the source hash."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: src/main/scala not found; run from a full checkout")
    files = sources()
    digest = source_hash(files + [os.path.abspath(__file__)])
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return digest
    for p in (STAMP, JAR, JSA):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES] + files
    if subprocess.run(cmd).returncode != 0:
        sys.exit("perfbench: compile failed")
    with zipfile.ZipFile(JAR, "w") as jar:
        for dirpath, _, names in os.walk(CLASSES):
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                jar.write(path, os.path.relpath(path, CLASSES))
    # The archive must be recorded against the final jar path: the JVM
    # checks the classpath it was recorded with.
    print("perfbench: recording the class-data-sharing archive",
          file=sys.stderr, flush=True)
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    with open(os.path.join(BUILD, "train.log"), "w") as log:
        rc = subprocess.run(java_cmd("perfbench.Main", [
            "--workload", "kg_build", "--seconds", "0",
            "--trace", "0", "--cores", str(len(os.sched_getaffinity(0))), "--work", train,
            "--pages", "20", "--corpus", os.path.join(HERE, "data", "sf0.1")],
            [f"-XX:ArchiveClassesAtExit={JSA}"]), cwd=train,
            stdout=log, stderr=log).returncode
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0:
        sys.exit("perfbench: archive recording run failed; see .bench_build/train.log")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return digest


if __name__ == "__main__":
    build()
    print(JAR)
