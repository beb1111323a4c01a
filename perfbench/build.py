#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark program (perfbench/src) into .bench_build/perfbench/classes with the
Scala compiler that ships among Spark's jars, so no build tool and no network
is needed.

Spark's jar directory is $SPARK_HOME/jars when SPARK_HOME is set, otherwise the
`unmanagedBase` the project's build.sbt names. A stamp of the sources and the
jar list skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt at the checkout root and SPARK_HOME unset")
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase; set SPARK_HOME")
        jars = m.group(1)
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars) if n.endswith(".jar")):
        raise BuildError(f"no scala-compiler jar among Spark's jars in {jars}")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError("library sources (src/main/scala) not found in this checkout")
    found = []
    for top in (lib, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build():
    """Compile when needed; returns (classes dir, Spark jar dir). Runs that
    start together wait for one compile instead of racing on the output."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for n in sorted(os.listdir(jars)):
        h.update(n.encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes, jars

    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile exceeded {COMPILE_TIMEOUT_S} s")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BuildError(f"compile failed with exit code {p.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
