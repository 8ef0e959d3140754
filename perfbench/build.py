#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's JVM harness (`perfbench/jvm`) with the
Scala compiler that ships in Spark's jar directory, into
`$CARGO_TARGET_DIR/perfbench/classes` (default `.bench_build`). A stamp
over every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path

SOURCES = ("src/main/scala", "perfbench/jvm")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    pyspark = importlib.util.find_spec("pyspark")
    homes = (os.environ.get("SPARK_HOME"), pyspark and Path(pyspark.origin).parent)
    for d in homes:
        j = Path(d or "") / "jars"
        if d and j.is_dir() and any(j.glob("spark-core_*.jar")):
            return j
    sys.exit("perfbench: no Spark jar directory (set SPARK_HOME)")


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build") / "perfbench"


def sources(root):
    files = []
    for s in SOURCES:
        d = root / s
        if not d.is_dir():
            sys.exit(f"perfbench: source directory {s} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def build(root=Path(".")):
    """Compile if needed; returns the classpath string for `java -cp`."""
    root = Path(root)
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    cp = f"{classes.resolve()}{os.pathsep}{jars}/*"
    if (out / "stamp").exists() and (out / "stamp").read_text() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-classpath", str(classes), "-nowarn", "-d", str(classes), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        sys.exit("perfbench: compile failed")
    (out / "stamp").write_text(stamp)
    return cp


if __name__ == "__main__":
    print(build())
