#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) from source with the Scala compiler that ships in
Spark's jars, into .bench_build/classes. A stamp of the source contents makes
a rebuild of unchanged sources a no-op.

Usage, from the repository root: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the sbt build uses
    (`unmanagedBase` in build.sbt)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise FileNotFoundError("no unmanagedBase in build.sbt and no SPARK_HOME")
    return m.group(1)


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(root, srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Returns (classes dir, source hash); raises on a missing tree or a
    failed compile."""
    srcs = sources(root)
    for d in SOURCE_DIRS:
        if not any(p.startswith(os.path.join(root, d) + os.sep) for p in srcs):
            raise FileNotFoundError(f"no Scala sources under {d}")
    digest = source_hash(root, srcs)
    out = os.path.join(root, ".bench_build", "classes")
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr,
                   cwd=root)
    with open(stamp, "w") as f:
        f.write(digest)
    return out, digest


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(build(repo)[0])
