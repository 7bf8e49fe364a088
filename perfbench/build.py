#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the repository's main Scala sources together with the benchmark's
own sources (perfbench/src) into one class directory, with the Scala
compiler that ships among the Spark jars the repository's build.sbt
compiles against (its `unmanagedBase`). A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
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
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory build.sbt names as its unmanagedBase."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {root}")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    trees = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(trees[0]):
        raise BuildError(f"no main sources under {trees[0]}")
    out = []
    for tree in trees:
        for d, _, names in os.walk(tree):
            out += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(out)


def build(root=ROOT, build_dir=BUILD):
    """Compiles if any source changed; returns the runtime classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    classes = os.path.join(build_dir, "classes")
    classpath = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    digest = hashlib.sha256(jars.encode())
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp_file = os.path.join(classes, ".stamp")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(stamp_file) and open(stamp_file).read() == digest.hexdigest():
            return classpath
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(build_dir, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs))
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                            "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                            "-d", tmp, "-classpath", cp, "@" + args_file],
                           stdout=sys.stderr, timeout=840)
        if r.returncode != 0:
            raise BuildError(f"scalac exited with {r.returncode}")
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(digest.hexdigest())
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
