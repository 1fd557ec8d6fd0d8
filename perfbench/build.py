#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark jars directory build.sbt compiles against, into a directory of
.bench_build/ named after the digest of the sources, jars both, and dumps
a class-data archive of what a short run loads, so that every run's JVM
starts faster. Skips the build when that directory holds a finished build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

OUT = ".bench_build"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM = (["java", "-Xmx3g", "-Xss8m", "-Dspark.ui.enabled=false"] +
       [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")])


def spark_jars():
    """The Spark jars directory the sbt build compiles against (its
    `unmanagedBase`), which also holds the Scala compiler."""
    with open("build.sbt") as fh:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not found:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jars directory")
    return found.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, files, dest, classpath):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def jar(classes, dest):
    with zipfile.ZipFile(dest, "w") as z:
        for f in sorted(glob.glob(os.path.join(classes, "**", "*"), recursive=True)):
            if os.path.isfile(f):
                z.write(f, os.path.relpath(f, classes))


def build():
    """Returns the command that runs perfbench.Main, up to its arguments."""
    prog, bench = sources("src/main/scala"), sources("perfbench/src")
    if not prog or not os.path.exists("build.sbt"):
        raise SystemExit("perfbench: program sources (src/main/scala, build.sbt) not found")
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in prog + bench:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    # one build per source digest: a checkout switched between commits
    # keeps each commit's build instead of recompiling on every switch
    dest = os.path.join(OUT, "build-" + digest.hexdigest()[:16])
    prog_dir, bench_dir = os.path.join(dest, "program"), os.path.join(dest, "bench")
    # the archive holds classes of jars only; directories cannot be in it
    classpath = f"{jars}/*:{dest}/program.jar:{dest}/bench.jar"
    archive = os.path.join(dest, "classes.jsa")
    done = os.path.join(dest, "done")
    if not os.path.exists(done):
        scalac(jars, prog, prog_dir, f"{jars}/*")
        scalac(jars, bench, bench_dir, f"{prog_dir}:{jars}/*")
        jar(prog_dir, f"{dest}/program.jar")
        jar(bench_dir, f"{dest}/bench.jar")
        scratch = os.path.abspath(os.path.join(dest, "classes-run"))
        os.makedirs(scratch, exist_ok=True)
        subprocess.run(JVM + [f"-XX:ArchiveClassesAtExit={archive}", "-cp", classpath,
                              "perfbench.Main", "classes", "1", "1", "0", scratch, "0"],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(scratch)
        open(done, "w").close()
    return JVM + [f"-XX:SharedArchiveFile={archive}", "-cp", classpath, "perfbench.Main"]


if __name__ == "__main__":
    print(" ".join(build()))
