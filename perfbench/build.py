"""Build file of the benchmark: compiles the library sources
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/src`) with the Scala compiler shipped in the Spark
distribution, into `.bench_build/perfbench/<source hash>/classes`.

A build is reused while no source file changes.  Run directly to
build: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    return lib, own


def source_hash():
    lib, own = sources()
    h = hashlib.sha256()
    for p in lib + own:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Return the classes directory, compiling if needed."""
    lib, own = sources()
    if not lib:
        raise FileNotFoundError("library sources src/main/scala not found")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise FileNotFoundError(f"no Scala compiler under {jars}")
    stamp = source_hash()
    classes = os.path.join(OUT, stamp, "classes")
    if os.path.exists(os.path.join(OUT, stamp, "ok")):
        return classes
    if os.path.isdir(OUT):
        for old in os.listdir(OUT):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    staging = os.path.join(OUT, stamp + ".tmp")
    os.makedirs(staging)
    argfile = os.path.join(OUT, stamp + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(lib + own))
    cp = os.path.join(jars, "*")
    print(f"[perfbench] compiling {len(lib) + len(own)} sources", file=log, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", staging, "-classpath", cp, "@" + argfile],
                   check=True, stdout=log, stderr=log)
    os.remove(argfile)
    os.makedirs(os.path.join(OUT, stamp))
    os.rename(staging, classes)
    open(os.path.join(OUT, stamp, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
