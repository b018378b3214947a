#!/usr/bin/env python3
"""Ingest benchmark entry point.

Builds the engine and the benchmark from source (once per source state),
then runs one workload in a fresh JVM and relays its result line:

    python3 ingestbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 ingestbench/run.py --selftest

Workloads and metrics are described in BENCHMARK.json at the repository
root. Everything the run writes stays under ingestbench/ (.build, .work,
.out); the per-run work dir is removed afterwards.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    p = os.path.join(base, n)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("ingestbench: engine sources (src/main/scala) not found")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")],
                       stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit(f"ingestbench: build failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(main_args, work):
    # C1 only: a run lives about a minute on 4 cores, where C2 compiler
    # threads compete with Spark tasks; in trials C1 cut set-up by ~20 % and
    # timed micro-batches by ~20 %.
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # AlwaysPreTouch: the whole heap is resident from the start, so VmHWM
    # does not depend on how far G1 happened to spread before the run ended.
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m"] + opens + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.sql.session.timeZone=UTC",
        "-Dingestbench.home=" + HERE,
        "-cp", os.path.join(BUILD, "classes") + os.pathsep + os.path.join(JARS, "*"),
        "ingestbench.Main"] + main_args)


def run_jvm(main_args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        r = subprocess.run(java_cmd(main_args, work), cwd=work,
                           stdout=subprocess.PIPE, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"ingestbench: run exceeded {RUN_TIMEOUT_S}s and was killed", file=sys.stderr)
        return 124
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(r.stdout.decode())
    sys.stdout.flush()
    return r.returncode


def main():
    # SIGTERM unwinds like an exception, so subprocess.run kills and reaps
    # the JVM and the work dir is removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    build()
    work_root = os.path.join(HERE, ".work")
    if a.selftest:
        return run_jvm(["--selftest"], os.path.join(work_root, f"selftest-{os.getpid()}"))
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    return run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace,
                    "--work", os.path.join(work, "w"),
                    "--out", os.path.join(HERE, ".out")], work)


if __name__ == "__main__":
    sys.exit(main())
