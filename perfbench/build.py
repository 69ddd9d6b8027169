#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with scalac against Spark's jars into a
directory named by a hash of the sources, so an unchanged tree is not
rebuilt. Run from the repository root:

    python3 perfbench/build.py          # prints the classes directory

Spark's jars are found through SPARK_HOME, or next to `spark-submit` on
PATH; the JDK through JAVA_HOME, or `java` on PATH. Build output goes
under $CARGO_TARGET_DIR, default `.bench_build`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def out_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    return program + bench


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    dest = os.path.join(out_root(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, ".complete")):
        return dest
    tmp = f"{dest}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xmx3g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, dest)
    except OSError:  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
