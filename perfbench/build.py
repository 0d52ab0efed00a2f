#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

    python3 perfbench/build.py          # compile into .bench_build/classes/*.jar
    python3 perfbench/build.py test     # compile and run the benchmark's tests

Run from the repository root. The program's sources (src/main/scala and
src/main/resources) and the benchmark's sources are compiled with the
Scala compiler that ships among the Spark jars (SPARK_HOME/jars, else the
`unmanagedBase` directory named in build.sbt). A stamp of the source
contents skips a compile whose inputs have not changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def fail(msg):
    print(f"perfbench build: {msg}", file=sys.stderr)
    sys.exit(2)


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME, or run from a checkout whose "
         "build.sbt names them")


def jars():
    d = jar_dir()
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources(*dirs, ext=".scala"):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def stamp(files, extra):
    h = hashlib.sha256("\n".join(extra).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, name):
    all_jars = jars()
    compiler = [j for j in all_jars if re.search(
        r"/scala-(compiler|library|reflect)_?[^/]*\.jar$", j)]
    if len(compiler) < 3:
        fail("the Scala compiler, library and reflect jars are not among the Spark jars")
    st = out + ".stamp"
    key = stamp(srcs, classpath)
    if os.path.exists(st) and open(st).read() == key and os.path.isdir(out):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench build: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    if subprocess.call(cmd) != 0:
        fail(f"compiling {name} failed")
    with open(st, "w") as f:
        f.write(key)


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no program sources under src/main/scala: run from the repository root")
    classes = os.path.join(ROOT, BUILD, "classes")
    spark = jars()
    main_out = os.path.join(classes, "main")
    scalac(sources(main_src), main_out, spark, "the program")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, main_out, dirs_exist_ok=True)
    bench_out = os.path.join(classes, "bench")
    scalac(sources(os.path.join(BENCH, "src", "main", "scala")), bench_out,
           spark + [main_out], "the benchmark")
    return [package(bench_out), package(main_out)] + spark


def package(classes):
    """Packs a class directory into a jar beside it, unless the jar already
    holds exactly these files. The JVM's class-data archive (run.py) takes
    classes from jars only, never from directories.
    """
    out = classes + ".jar"
    files = sources(classes, ext="")
    key = stamp(files, [])
    st = out + ".stamp"
    if os.path.exists(st) and open(st).read() == key and os.path.exists(out):
        return out
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in files:
            z.write(f, os.path.relpath(f, classes))
    os.replace(out + ".tmp", out)
    with open(st, "w") as f:
        f.write(key)
    return out


def test():
    cp = build()
    test_out = os.path.join(ROOT, BUILD, "classes", "test")
    scalac(sources(os.path.join(BENCH, "src", "test", "scala")), test_out, cp,
           "the benchmark tests")
    return subprocess.call(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join([test_out] + cp),
                            "perfbench.Tests"])


if __name__ == "__main__":
    if sys.argv[1:] == ["test"]:
        sys.exit(test())
    build()
