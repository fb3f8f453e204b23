#!/usr/bin/env python3
"""graft benchmark: build from source, run one workload, print one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries --seed 1 --seconds 6 --trace 0

Workloads: queries, pipelines (see perfbench/README.md).
The engine (src/main/scala) and the harness (perfbench/src) are compiled
with the Scala compiler that ships in Spark's jars, into .bench_build/;
the build is reused while the sources are unchanged. The harness JVM is
launched directly (no sbt) with build.sbt's --add-opens flags and heap.
The last line of standard output is the result object:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and a spans file lands in .bench_out/.

Other modes: --selftest (the benchmark's own tests), --dump DIR (every
declared query's output, for perfbench/tools/make_expected.py).
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no unmanagedBase in build.sbt and SPARK_HOME is not set")
    return m.group(1)


SCALAC_OPTS = ["-deprecation", "-unchecked"]
# build.sbt's javaOptions: the JDK 17 module opens Spark needs outside
# spark-submit, UI off, UTC, and the driver heap.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile engine + harness unless the stamped sources are unchanged."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    files = scala_files(ENGINE_SRC) + scala_files(BENCH_SRC)
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", *SCALAC_OPTS,
           "-classpath", cp, "-d", tmp, *files]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def commit_id(stamp):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        head = r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        head = "none"
    return f"{head}+src.{stamp[:12]}"


def java_cmd(classes, args):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    log4j = os.path.join(ROOT, "perfbench", "conf", "log4j2.properties")
    return ["java", *opens, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Xmx{heap}",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile=file:{log4j}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}",
            "graftbench.Main", *args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--dump", metavar="DIR")
    ns = ap.parse_args()
    if not (ns.workload or ns.selftest or ns.dump):
        fail("--workload is required")
    os.chdir(ROOT)
    classes, stamp = build()
    cores = len(os.sched_getaffinity(0))
    common = ["--root", ROOT, "--cores", str(cores), "--commit", commit_id(stamp)]
    if ns.selftest:
        args, timeout = ["--mode", "selftest", *common], 600
    elif ns.dump:
        args, timeout = ["--mode", "dump", "--dir", os.path.abspath(ns.dump), *common], 3600
    else:
        args = ["--mode", "run", "--workload", ns.workload, "--seed", str(ns.seed),
                "--seconds", str(ns.seconds), "--trace", str(ns.trace), *common]
        timeout = RUN_TIMEOUT_S
    proc = subprocess.Popen(java_cmd(classes, args), stdout=subprocess.PIPE, text=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=timeout)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"run exceeded {timeout} s")
    if proc.returncode != 0:
        sys.stdout.write("".join(line + "\n" for line in lines if not line.startswith("{")))
        fail(f"harness exited with code {proc.returncode}")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
