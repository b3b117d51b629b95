#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library under `src/main/scala` together with the benchmark's
own sources under `perfbench/src/main/scala` into one class directory,
with the Scala compiler that ships among the Spark jars the library's
`build.sbt` names (`unmanagedBase`). The class directory is keyed by a
hash of every source, so an unchanged tree is built once.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def _sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jar_dir():
    """The Spark jar directory from build.sbt's `unmanagedBase`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("build.sbt not found: not a checkout of the library")
    with open(sbt, encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise BuildError(f"Spark jar directory {d!r} not found")
    return d


def build():
    lib = _sources(os.path.join(ROOT, "src", "main", "scala"))
    own = _sources(os.path.join(HERE, "src", "main", "scala"))
    if not lib or not own:
        raise BuildError("library or benchmark sources not found")
    h = hashlib.sha256()
    for p in lib + own:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    os.makedirs(out, exist_ok=True)
    cp = os.path.join(jar_dir(), "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", cp] + lib + own,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
