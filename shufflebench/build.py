#!/usr/bin/env python3
"""Build file of the shuffle benchmark.

Compiles the repository's main sources (among them the shuffle plugin and
the session builder the benchmark uses) together with the benchmark's own sources under
shufflebench/src, using the Scala compiler that ships with Spark's jars. No
dependency is fetched: the classpath is Spark's jar directory.

    python3 shufflebench/build.py          # build into .bench_build/shufflebench

The output is reused while the hash of every input source stays the same.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
OUT = REPO / ".bench_build" / "shufflebench"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.sha256"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the repository build's
    `unmanagedBase` (build.sbt), which the tests compile against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = REPO / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if jars.is_dir():
            return jars
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources():
    main = REPO / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: repository sources not found at {main}")
    repo_srcs = sorted(main.rglob("*.scala"))
    bench_srcs = sorted((BENCH / "src").rglob("*.scala"))
    if not repo_srcs or not bench_srcs:
        raise SystemExit("build: no sources to compile")
    return repo_srcs + bench_srcs


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    stamp = digest(srcs)
    if STAMP.exists() and STAMP.read_text() == stamp:
        return classpath
    compiler = sorted(glob.glob(str(jars / "scala-compiler-*.jar")))
    library = sorted(glob.glob(str(jars / "scala-library-*.jar")))
    reflect = sorted(glob.glob(str(jars / "scala-reflect-*.jar")))
    if not (compiler and library and reflect):
        raise SystemExit(f"build: no Scala compiler in {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join([compiler[-1], library[-1], reflect[-1]]),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*", "-d", str(CLASSES),
           f"@{argfile}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    STAMP.write_text(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
