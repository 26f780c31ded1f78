#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) into `.bench_build/classes` with the Scala
compiler that ships in the Spark distribution, so no dependency resolver
runs and nothing is fetched. A stamp over every input file makes a
rebuild happen only when a source changes.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def root_dir():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(root_dir(), ".bench_build")


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src")]
    out = []
    for d in dirs:
        for dp, _, fs in os.walk(d):
            out.extend(os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java")))
    return sorted(out)


def _resource_dir(root):
    return os.path.join(root, "src", "main", "resources")


def spark_jars_dir(root):
    """The Spark distribution's jar directory: the one the engine's own
    build compiles against (`unmanagedBase` in build.sbt)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def check_inputs(root):
    """Refuse to run outside a full checkout: the engine sources must be there."""
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala"))
            and os.path.isfile(os.path.join(root, "build.sbt"))):
        raise SystemExit("perfbench: no engine sources at src/main/scala; "
                         "run from the root of a full checkout")


def _stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(SCALA_VERSION.encode())
    return h.hexdigest()


def build():
    """Compile if stale; return the runtime classpath as a list."""
    root = root_dir()
    check_inputs(root)
    srcs = _sources(root)
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "stamp")
    stamp = _stamp(srcs)
    jar_dir = spark_jars_dir(root)
    jars = sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir) if j.endswith(".jar"))
    classpath = [classes, _resource_dir(root)] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    if os.path.exists(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    compiler = [os.path.join(jar_dir, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("-d\n" + classes + "\n")
        f.write("-classpath\n" + os.pathsep.join(jars) + "\n")
        f.write("-nowarn\n")
        for s in srcs:
            f.write(s + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "@" + argfile],
                   check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(os.pathsep.join(build()))
