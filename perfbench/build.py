#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the benchmark's own sources (`perfbench/src`) with the
Scala compiler that ships in Spark's jar directory, into
`.bench_build/perfbench/classes`. A build is reused while the sources are
unchanged (content digest in `stamp`).

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(ROOT, "perfbench", "src")
    if not os.path.isdir(lib):
        raise BuildError(f"library sources not found under {lib}")
    files = []
    for d in (lib, own):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classpath, source digest)."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = os.path.join(jars, "*") + os.pathsep + classes
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
