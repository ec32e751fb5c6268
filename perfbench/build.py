#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft library (src/main/scala
at the repository root) and the benchmark itself (perfbench/src/main/scala)
in one scalac run into one jar, against the Spark jars graft itself builds
with. It needs only a JDK and those jars; sbt, its caches and the home
directory are not used.

    python3 perfbench/build.py      # prints the runtime classpath

The output goes to .bench_build/perfbench/<key>/, where the key hashes
every source file and the jar list, so a changed tree builds afresh and an
unchanged one reuses the jar.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BuildError(Exception):
    pass


def spark_jars():
    """The jars graft compiles against: the unmanagedBase of the root
    build.sbt, else $SPARK_HOME/jars."""
    dirs = []
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        dirs.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any(os.path.basename(j).startswith("spark-sql_") for j in jars):
            return jars
    raise BuildError(f"no Spark jars found (looked in {dirs or 'nothing: no unmanagedBase, no SPARK_HOME'})")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Compile unless an up-to-date build exists. Returns (runtime classpath,
    build directory)."""
    jars, srcs = spark_jars(), sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read() + b"\0")
    h.update("\n".join(jars).encode())
    out = os.path.join(OUT, h.hexdigest()[:16])
    jar = os.path.join(out, "classes.jar")
    cp = os.pathsep.join([jar] + jars)
    if os.path.exists(os.path.join(out, "built")):
        return cp, out
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-", os.path.basename(j))]
    if len(compiler) != 3:
        raise BuildError(f"scala compiler, library and reflect jars not all found: {compiler}")
    log(f"compiling {len(srcs)} sources with scalac")
    t0 = time.time()
    try:
        p = subprocess.run(
            [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-nowarn", "-classpath", os.pathsep.join(jars), "-d", jar, *srcs],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BuildError(f"scalac did not finish: {e}")
    if p.returncode != 0 or not os.path.exists(jar):
        sys.stderr.write(p.stdout[-4000:])
        raise BuildError(f"scalac failed with exit code {p.returncode}")
    shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(out, "built"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return cp, out


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        log(f"build failed: {e}")
        sys.exit(2)
