#!/usr/bin/env python3
"""Benchmark of the Avro diff path.

    python3 avrobench/run.py --workload keydiff_stable --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the harness from
source with sbt (skipped when nothing changed since the last build), pins
the host shape (local[N] and N shuffle partitions with N = the usable
cores, a fixed 2 GB heap), generates the seeded inputs, then runs the
harness JVM. Generated inputs,
logs and spans go to avrobench/work/. The last line of stdout is the
result as one JSON object; on any failure nothing is printed there and the
exit code is not 0.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
LAUNCH = os.path.join(BENCH, "target", "launch")
WORKLOADS = ("keydiff_stable", "keydiff_churn", "venn_bag")
HEAP = "-Xmx2g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# What the build reads: the program's sources and build, and the harness's.
BUILD_INPUTS = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(BENCH, "build.sbt"),
    os.path.join(BENCH, "project"),
    os.path.join(BENCH, "src", "main"),
]


def fail(msg, log=None):
    print(f"avrobench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            # skip build outputs and sbt's own nested build
            dirs[:] = sorted(x for x in dirs
                             if x != "target" and not (x == "project" and d == top))
            paths += sorted(os.path.join(d, f) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness unless the last build is current."""
    stamp_file = os.path.join(LAUNCH, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFiles"],
                cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out", log)
    if rc != 0:
        fail("build failed", log)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        print("avrobench: the program's sources (build.sbt, src/main/scala) are not "
              "next to the benchmark; run it from a full checkout", file=sys.stderr)
        sys.exit(2)
    build()

    cores = len(os.sched_getaffinity(0))
    # Only the latest run's inputs, logs and spans are kept.
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-t{args.trace}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)

    env = dict(os.environ)
    env.update(SPARK_MASTER=f"local[{cores}]", SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=local)
    with open(os.path.join(LAUNCH, "classpath")) as f:
        classpath = f.read().strip()
    with open(os.path.join(LAUNCH, "jvm-opts")) as f:
        jvm_opts = [l for l in f.read().splitlines() if l]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    jvm = [java, *jvm_opts, HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", classpath]
    # Inputs first, in a JVM of their own, so that the harness JVM starts
    # cold with the CLI run.
    gen_log = os.path.join(run_dir, "gen.log")
    with open(gen_log, "w") as log:
        try:
            rc = subprocess.run(
                jvm + ["graft.avrobench.Gen", "--workload", args.workload,
                       "--seed", str(args.seed), "--dir", os.path.join(run_dir, "data")],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("input generation timed out", gen_log)
    if rc != 0:
        fail("input generation failed", gen_log)

    cmd = jvm + ["graft.avrobench.Harness",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", run_dir, "--cores", str(cores)]
    err_log = os.path.join(run_dir, "harness.err")
    with open(err_log, "w") as err:
        # Own process group, so that a timeout stops every thread and child.
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness did not finish in {RUN_TIMEOUT_S} s", err_log)
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1])
        ok = p.returncode == 0 and set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    print("\n".join(lines[:-1] if ok else lines), flush=True)
    if not ok:
        fail(f"harness exited with code {p.returncode} and no result", err_log)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
