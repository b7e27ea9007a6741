#!/usr/bin/env python3
"""Run one benchmark workload and print every metric by name with its unit.

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source when needed (see build.py),
runs the workload in one JVM on local[<cores>] with one closed-loop client,
checks every op's output after the timed window, and prints one
`name value unit` line per metric, a run-identity line, and as the last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from benchlib import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("medallion_etl", "corpus_maintain")
HEAP = "3g"
# every run must end within this many seconds after the build
DEADLINE_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_head():
    """HEAD commit read from .git without running git; None outside a repo."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(path):
                return open(path).read().strip()
            packed = os.path.join(ROOT, ".git", "packed-refs")
            for line in open(packed):
                if line.strip().endswith(ref[5:]):
                    return line.split()[0]
            return None
        return ref
    except OSError:
        return None


def run_jvm(args, classpath, workdir, budget):
    """Runs one JVM run and returns its record; the JVM stops starting new
    passes early enough to finish its checks within `budget` seconds."""
    record = os.path.join(workdir, "record.json")
    cmd = (["java", "-Xmx" + HEAP, "-Xss16m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(workdir, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--workdir", workdir, "--cores", str(cores()), "--out", record,
              "--max-wall", "%.0f" % max(10.0, budget - 30)])
    os.makedirs(os.path.join(workdir, "tmp"))
    log = os.path.join(workdir, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=workdir, env=env)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("run: JVM exceeded its %.0f s budget" % budget)
    if code != 0 or not os.path.exists(record):
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit("run: JVM exited with code %d" % code)
    return json.load(open(record))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    classpath = build.build()
    workdir = os.path.join(build.BUILD_DIR, "runs", "%s-%d-%d-%d" % (
        args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        record = run_jvm(args, classpath, workdir, DEADLINE_S)
        checked = metrics.check_outputs(record, os.path.join(workdir, "tmp"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if args.trace:
        values = metrics.per_layer(record, checked)
    else:
        values = metrics.end_to_end(record)

    units = metrics.units()
    for name, value in values.items():
        print("%-34s %14.6g %s" % (name, value, units[name]))
    print("# run " + json.dumps(metrics.identity(record, checked, git_head(), HEAP),
                                sort_keys=True))
    for failure in checked["failures"][:10]:
        print("# failed op " + failure)
    print(json.dumps({
        "correct": checked["failed"] == 0,
        "attempted": checked["attempted"],
        "failed": checked["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))


if __name__ == "__main__":
    main()
