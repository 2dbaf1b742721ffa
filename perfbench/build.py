#!/usr/bin/env python3
"""Builds the engine and the benchmark from source with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, else the
`unmanagedBase` that build.sbt names), without sbt and without touching
the repository's build files.

    python3 perfbench/build.py        # from the root of a checkout

Classes go to $CARGO_TARGET_DIR (default .bench_build) under the checkout:
`classes/` for src/main/scala, `bench-classes/` for perfbench/src. A build
(engine or benchmark) is skipped when a stamp of its source files'
content is unchanged.
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


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar in '{jars}'; set SPARK_HOME")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, out, classpath, srcs):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed for {out}")


def stamp(srcs):
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()


def compile_if_changed(jars, out, classpath, srcs, digest, force=False):
    """Compiles `srcs` into `out` unless its stamp matches `digest`.
    Returns whether it compiled."""
    stamp_path = out + ".stamp"
    if not force and os.path.exists(stamp_path) and open(stamp_path).read() == digest:
        return False
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    scalac(jars, out, classpath, srcs)
    with open(stamp_path, "w") as f:
        f.write(digest)
    return True


def sources_stamp():
    """The stamp of the last build's engine and benchmark sources."""
    with open(os.path.join(build_dir(), "bench-classes.stamp")) as f:
        return f.read()


def build():
    """Returns the classpath (engine, benchmark, Spark jars) of a fresh build."""
    main_srcs = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_srcs = sources(os.path.join(HERE, "src"))
    if not main_srcs:
        sys.exit("build: no engine sources under src/main/scala")
    jars = spark_jars()
    out = build_dir()
    classes, bench_classes = os.path.join(out, "classes"), os.path.join(out, "bench-classes")
    os.makedirs(out, exist_ok=True)
    main_stamp = stamp(main_srcs)
    fresh = compile_if_changed(jars, classes, [], main_srcs, main_stamp)
    compile_if_changed(jars, bench_classes, [classes], bench_srcs,
                       main_stamp + stamp(bench_srcs), force=fresh)
    return [bench_classes, classes, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
