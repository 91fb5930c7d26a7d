#!/usr/bin/env python3
"""Shuffle benchmark: runs one named workload and prints one JSON result line.

    python3 shufflebench/run.py --workload sort-capped --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py), then runs the
workload in one JVM on local[nproc] with the cloud shuffle plugin at its
default settings. Scratch files live under .bench_build/shufflebench/work and
are removed afterwards; the full detail of the run (raw pass times,
failures) is kept in .bench_build/shufflebench/last-<workload>.json and the
traced lane's spans in last-<workload>-spans.csv next to it.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1 (see METRICS.md).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def workload_name(s):
    if not re.fullmatch(r"[a-z0-9][a-z0-9.-]*", s):
        raise argparse.ArgumentTypeError(f"bad workload name {s!r}")
    return s


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, type=workload_name,
                    help="sort-capped or small-blocks-20ms")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build.build()
    work = build.OUT / "work" / f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    log = work / "jvm.log"
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss4m",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "org.apache.spark.shufflebench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus), "--work", str(work), "--out", str(out)]
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                    start_new_session=True, cwd=work)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        if code != 0 or not out.exists():
            sys.stderr.write(log.read_text()[-6000:])
            why = "timed out" if code is None else f"exited with code {code}"
            raise SystemExit(f"shufflebench: {args.workload} {why}")
        result = json.loads(out.read_text())
        detail = Path(str(out) + ".detail.json")
        shutil.copyfile(detail, build.OUT / f"last-{args.workload}.json")
        shutil.copyfile(str(out) + ".spans.csv", build.OUT / f"last-{args.workload}-spans.csv")
        if result["failed"]:
            sys.stderr.write(json.dumps(json.loads(detail.read_text())["failures"]) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
