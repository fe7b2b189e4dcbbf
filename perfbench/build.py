#!/usr/bin/env python3
"""Build file for the graft benchmark.

Compiles the library (src/main/scala of the checkout) and the benchmark's
own sources (perfbench/src, plus perfbench/tests for the self-tests) with
the Scala compiler that ships among the Spark jars, straight into
.bench_build/. Each half is rebuilt only when a hash of its sources changes,
so only the first run in a checkout pays for compilation.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory: SPARK_JARS, $SPARK_HOME/jars, or the
    unmanagedBase the repository's own build names."""
    cands = [os.environ.get("SPARK_JARS", "")]
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if c and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("build: no Spark jars found (set SPARK_JARS or SPARK_HOME)")


def scala_sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def stamp_of(dest):
    path = os.path.join(dest, ".sources.sha256")
    return open(path).read() if os.path.exists(path) else ""


def compile_to(name, files, classpath, jars, depends=""):
    """Compile `files` into .bench_build/<name>, reusing it when the
    sources, the classpath and the stamp of what it depends on match."""
    dest = os.path.join(OUT, name)
    want = hashlib.sha256((digest(files) + classpath + depends).encode()).hexdigest()
    if stamp_of(dest) == want:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, n))[0]
        for n in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", tmp] + files
    print(f"build: compiling {len(files)} files into {os.path.relpath(dest, ROOT)}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed for {name}")
    with open(os.path.join(tmp, ".sources.sha256"), "w") as fh:
        fh.write(want)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def build():
    """Compile what is stale; return the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit("build: no library sources at src/main/scala; run from a graft checkout")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    os.makedirs(OUT, exist_ok=True)
    lib = compile_to("graft-classes", scala_sources(main_src), spark_cp, jars)
    bench = compile_to(
        "bench-classes",
        scala_sources(os.path.join(HERE, "src"), os.path.join(HERE, "tests")),
        os.pathsep.join([lib, spark_cp]), jars, depends=stamp_of(lib))
    return os.pathsep.join([bench, lib, spark_cp])


def source_id():
    """The git commit when there is one, else a hash of the library sources."""
    try:
        # the ceiling keeps git from answering for an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10, env=env)
        if r.returncode == 0 and r.stdout.strip():
            return "git:" + r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sha256:" + digest(scala_sources(os.path.join(ROOT, "src", "main", "scala")))[:16]


if __name__ == "__main__":
    print(build())
