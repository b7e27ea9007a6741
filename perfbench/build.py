#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, plus `src/main/resources`) together
with the benchmark harness (`perfbench/scala`) with the Scala compiler that
ships in the Spark distribution, into `.bench_build/classes-<hash>` at the
root of the checkout. The hash covers every source file, so a changed
program or harness is rebuilt and an unchanged one is reused.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory: `$SPARK_HOME/jars`, else the program's own
    build file's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def _files(base, suffix=None):
    out = []
    for d, _, names in os.walk(base):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("build: program sources src/main/scala not found")
    scala = _files(main, ".scala") + _files(os.path.join(HERE, "scala"), ".scala")
    resources = _files(os.path.join(ROOT, "src", "main", "resources"))
    return scala, resources


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath."""
    scala, resources = sources()
    h = hashlib.sha256()
    for f in scala + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    jars = spark_jars()
    out = os.path.join(BUILD_DIR, "classes-" + key)
    classes = os.path.join(out, "classes")
    cp = os.path.join(jars, "*") + os.pathsep + classes
    if os.path.exists(os.path.join(out, ".ok")):
        return cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in scala) + "\n")
    t = time.time()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-classpath", os.path.join(jars, "*"), "-d", classes, "-nowarn",
           "@" + args]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        log.write(res.stdout[-4000:])
        raise SystemExit("build: compilation failed")
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, ".ok"), "w").close()
    log.write("build: compiled %d sources in %.1f s\n" % (len(scala), time.time() - t))
    return cp


if __name__ == "__main__":
    print(build())
