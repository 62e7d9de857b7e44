#!/usr/bin/env python3
"""Build file of the benchmark harness.

    python3 perfbench/harness/build.py [<out-dir>]

Run from the root of a checkout. Compiles the program's sources
(src/main/scala) together with the harness (perfbench/harness/src/main/scala)
into <out-dir>/classes (default .bench_build/perfbench) with the Scala
compiler that ships among Spark's jars, and prints the runtime classpath as
the last line. The build resolves nothing: Spark's jars are the only
dependencies, found through $SPARK_HOME, the `spark-submit` on PATH or
the `pyspark` package, so it needs neither sbt nor a network. A digest of
the sources decides when to rebuild.
"""

import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

SOURCES = ("src/main/scala", "perfbench/harness/src/main/scala")
# Limit for one compile; a fresh checkout compiles in about a minute on 4 cores.
COMPILE_LIMIT_S = 850


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: those of $SPARK_HOME, else of the first `spark-submit`
    on PATH that sits in a Spark distribution (a wrapper script elsewhere
    on PATH is skipped), else of this Python's `pyspark` package."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if d and os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    pyspark = importlib.util.find_spec("pyspark")
    if pyspark and pyspark.origin:
        homes.append(os.path.dirname(pyspark.origin))
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME, or put its bin directory on PATH)")


def source_files(root):
    out = []
    for base in SOURCES:
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith((".scala", ".java"))]
    if not any(p.startswith(os.path.join(root, SOURCES[0])) for p in out):
        raise BuildError(f"no program sources under {SOURCES[0]}: run from a checkout root")
    return out


def digest(root, files, jars):
    h = hashlib.sha1()
    h.update("\n".join(jars).encode())  # the classpath is stored with these paths
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait; the whole group is
    killed on timeout or interruption. Returns the exit code, None on
    timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root, out_dir):
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(out_dir, exist_ok=True)
    jars = spark_jars()
    files = source_files(root)
    stamp = os.path.join(out_dir, "classpath.json")
    want = digest(root, files, jars)
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("digest") == want:
            return got["classpath"]
    classes = os.path.join(out_dir, "classes")
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(out_dir, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-usejavacp", "-d", staging] + files) + "\n")
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as out:
        code = run_group(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                          "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + args],
                         COMPILE_LIMIT_S, stdout=out, stderr=subprocess.STDOUT)
    if code != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BuildError(f"compile {'timed out' if code is None else f'exited {code}'} "
                         f"(log: {log}):\n{tail}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    cp = os.pathsep.join([classes] + jars)
    with open(stamp, "w") as f:
        json.dump({"digest": want, "classpath": cp}, f)
    return cp


def main():
    root = os.getcwd()
    out_dir = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                              os.path.join(root, ".bench_build", "perfbench"))
    try:
        print(build(root, out_dir))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
