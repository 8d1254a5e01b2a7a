#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: write_path, read_path (see perfbench/README.md). The first run in a checkout compiles the program's
library sources with the harness (sbt, offline); later runs reuse the
compiled classes as long as no source or build file changed, so a run pays
neither sbt's start-up nor compilation. Each run is one fresh JVM. The last
line of standard output is the result as one JSON object; everything else
goes to standard error. Scratch stores live under perfbench/work/ and are
removed after the run; run records and traces stay there.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSPATH = TARGET / "bench-classpath.txt"
FINGERPRINT = TARGET / "bench-fingerprint.txt"
WORK = BENCH / "work"
WORKLOADS = ("write_path", "read_path")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 needs these when the session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the harness, its build, and the program's
    build file and main sources."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (BENCH / "src", ROOT / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def classpath():
    """The run classpath, compiling first when any source changed."""
    fp = fingerprint()
    if CLASSPATH.is_file() and FINGERPRINT.is_file() and FINGERPRINT.read_text() == fp:
        cp = CLASSPATH.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    log("compiling the program's library sources with the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not CLASSPATH.is_file():
        log(f"build failed (exit {r.returncode})")
        sys.exit(1)
    FINGERPRINT.write_text(fp)
    log(f"build took {time.time() - t0:.1f} s")
    return CLASSPATH.read_text().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        log(f"no program sources at {ROOT}: run this from a checkout of the repository")
        sys.exit(2)
    cp = classpath()

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    record = WORK / "records" / (
        f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}.json")
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m",
           "-XX:-UsePerfData", "-XX:SoftRefLRUPolicyMSPerMB=0", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace), "--work", str(run_dir),
            "--record", str(record)]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=sys.stderr, timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        log(f"benchmark JVM exited {r.returncode} without a result")
        sys.exit(1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"malformed result line: {lines[-1]}")
        sys.exit(1)
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
