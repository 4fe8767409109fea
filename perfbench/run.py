#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload returns-api --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the library
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in $SPARK_HOME/jars, into .bench_build/<source digest>; later runs
reuse it. The benchmark JVM writes its full artifact (per-op numbers, spans,
load evidence) to .bench_out/. This script prints the JVM's metric table and,
as its last line, the JSON result. It exits non-zero without a result when
the build or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")


def spark_jars():
    """The jars of $SPARK_HOME, or else of the first Spark on PATH, that ship
    the Scala compiler the build uses."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in path if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isfile(os.path.join(home, "jars", COMPILER[0])):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark with %s found; set SPARK_HOME" % COMPILER[0])


COMPILER = ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar")
JARS = spark_jars()
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these; the same list as
# org.apache.spark.launcher.JavaModuleOptions.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    if not lib or not bench:
        sys.exit("perfbench: library or benchmark sources not found under " + ROOT)
    return lib + bench


def build():
    """Compiles once per source digest; returns (classes dir, digest)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD, digest)
    if os.path.isdir(classes):
        return classes, digest
    tmp = classes + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    compiler = [os.path.join(JARS, j) for j in COMPILER]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(JARS, "*")] + srcs
    log = os.path.join(BUILD, digest + ".build.log")
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                            cwd=ROOT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: build failed, see " + log)
    try:
        os.rename(tmp, classes)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes, digest


def run(workload, seed, seconds, trace, extra=()):
    """Runs one benchmark JVM; returns (table lines, result dict)."""
    classes, digest = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap: with a growing heap, round times kept falling
    # for the whole run and spread widely between runs.
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + tmp]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", classes + ":" + os.path.join(JARS, "*"), "perfbench.PerfBench",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--out", OUT, "--source", digest] + list(extra))
    log = os.path.join(OUT, "%s-seed%s-trace%s.log" % (workload, seed, trace))
    with open(log, "w") as err:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=RUN_TIMEOUT_S, cwd=ROOT,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit("perfbench: run failed (exit %d), see %s" % (p.returncode, log))
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    if (sorted(result) != ["attempted", "correct", "failed", "metrics"] or result["attempted"] < 1
            or sorted(result["metrics"]) != sorted(m["name"] for m in spec)):
        sys.exit("perfbench: malformed result line: " + lines[-1])
    return lines[:-1], result


def artifact(workload, seed, trace):
    with open(os.path.join(OUT, "%s-seed%s-trace%s.json" % (workload, seed, trace))) as f:
        return json.load(f)


def selftest():
    """The benchmark's own checks: a thrown op is counted and makes the run
    incorrect, a wrong expectation fails the output check, and traced counts
    repeat exactly."""
    problems = []
    _, r = run("panel-scale", 11, 4, 0, ["--inject-failure"])
    a = artifact("panel-scale", 11, 0)
    thrown = "api.drawdownEpisodes_long_axis"
    if not (r["failed"] >= 3 and a["failed_ops"].get(thrown, 0) == r["failed"]
            and a["unbounded"]["ops_failed_frac"] > 0):
        problems.append("a thrown op is not counted: %s" % json.dumps(a["failed_ops"]))
    if r["correct"]:
        problems.append("a run with a thrown op reads correct")
    if (a["latency_samples"] != a["timed_attempted"] - a["timed_failed"]
            or thrown in a["per_op_median_s"]):
        problems.append("a failed op became a latency sample")
    _, r = run("panel-scale", 12, 4, 0, ["--corrupt-expected"])
    if r["correct"]:
        problems.append("a corrupted expected value passed the output check")
    counts = []
    for _ in range(2):
        run("panel-scale", 13, 4, 1)
        per_op = artifact("panel-scale", 13, 1)["per_op"]
        counts.append({k: (v["jobs"], v["stages"], v["tasks"]) for k, v in per_op.items()})
    if counts[0] != counts[1]:
        problems.append("traced job/stage/task counts differ: %s vs %s" % tuple(counts))
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest())
    if not args.workload:
        ap.error("--workload is required")
    table, result = run(args.workload, args.seed, args.seconds, args.trace)
    print("\n".join(table))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
