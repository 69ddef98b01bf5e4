#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources and the
benchmark's Scala harness into one class directory with the Scala compiler
that ships among Spark's jars. Rebuilds only when a source changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BUILD = os.path.join(".bench_build", "graftbench")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join("src", "main", "scala"),
               os.path.join("perfbench", "src")]


def run_child(cmd, timeout=None, **kw):
    """Run cmd to its end; return its exit code, or "timeout". On every way
    out, a SIGTERM's SystemExit included, the child is killed and reaped
    with plain os calls: a signal that interrupts Popen.wait can leave its
    lock held, and a second Popen.wait would then block for ever."""
    p = subprocess.Popen(cmd, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return "timeout"
    finally:
        if p.returncode is None:
            try:
                os.kill(p.pid, signal.SIGKILL)
                os.waitpid(p.pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core*.jar")):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not any(f.startswith(SOURCE_DIRS[0]) for f in out):
        raise SystemExit("perfbench: no engine sources under "
                         f"{SOURCE_DIRS[0]}; run from the repository root")
    return sorted(out)


def build():
    """Compile if needed; return the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    digest = h.hexdigest()
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        rc = run_child(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0:
            raise SystemExit("perfbench: compile failed")
        with open(stamp, "w") as f:
            f.write(digest)
    return CLASSES + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
