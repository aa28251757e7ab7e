#!/usr/bin/env python3
"""Crawl-and-curate benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the benchmark with sbt
from perfbench/build.sbt, which compiles the program's src/main/scala together
with perfbench/src, and caches the class path under .bench_build/. Every run
then starts one JVM for the workload: it generates the workload's inputs from
the seed (cached under .bench_build/inputs), sets up, measures for the given
seconds and checks every output. Output counts are recorded per program
version and input under .bench_build/counts, and every later run of the same
input must repeat them. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Extra
`--pages N --parts P` options resize the crawl workload (used to reproduce
`graft.Bench`'s crawl).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 850
# a run ends well inside the 180 s a benchmark run may take; resized runs
# (the --pages override) may set PERFBENCH_TIMEOUT_S
RUN_TIMEOUT_S = int(os.environ.get("PERFBENCH_TIMEOUT_S", "170"))
KEEP_INPUTS = 6
WORKLOADS = ("crawl_fatpages", "curate_corpus")

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The first Spark installation (a `spark-submit` next to a `jars` dir) on the PATH."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("set SPARK_HOME to the Spark installation", 3)


def classpath(stamp):
    """Builds on first use (or when a source changed); returns the class path."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:  # perfbench/build.sbt takes Spark's jars from there
        env["SPARK_HOME"] = spark_home()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    print("perfbench: building (%s)" % " ".join(cmd), file=sys.stderr)
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def heap():
    """Half of MemTotal in whole GB, clamped to 2..8 (as ROADMAP.md's test command sizes it)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def evict_inputs():
    """Keeps the most recently generated inputs only."""
    base = os.path.join(BUILD, "inputs")
    if not os.path.isdir(base):
        return
    dirs = [os.path.join(base, d) for d in os.listdir(base)]
    marker = lambda d: os.path.join(d, "_marker.json")
    dirs.sort(key=lambda d: os.path.getmtime(marker(d)) if os.path.exists(marker(d)) else 0)
    for d in dirs[:-KEEP_INPUTS]:
        shutil.rmtree(d, ignore_errors=True)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--pages", type=int, help="crawl pages (resizes crawl_fatpages)")
    ap.add_argument("--parts", type=int, help="crawl partitions (resizes crawl_fatpages)")
    args = ap.parse_args()
    extra = []
    for k in ("pages", "parts"):
        if getattr(args, k) is not None:
            extra += ["--" + k, str(getattr(args, k))]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala (the program) is missing")
    expected = expected_metrics(args.trace == "1")
    stamp = source_stamp()
    cp = classpath(stamp)
    evict_inputs()
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx" + heap(), "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dlog4j.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", BUILD, "--counts", os.path.join(BUILD, "counts", stamp[:16]),
            "--cpus", str(cpus)] + extra
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)  # wins over spark.local.dir
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("workload did not finish within %d s" % RUN_TIMEOUT_S, 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        fail("workload exited with %d and no result" % proc.returncode, 5)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        fail("metrics %s do not match BENCHMARK.json %s" % (sorted(got.items()), sorted(expected.items())), 6)
    print(json.dumps(result))


if __name__ == "__main__":
    t0 = time.time()
    main()
    print("perfbench: %.1f s" % (time.time() - t0), file=sys.stderr)
