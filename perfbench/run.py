#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. The first run compiles the engine's sources
(src/main/scala) together with the benchmark's (perfbench/src) with the
Scala compiler that ships in the Spark distribution, against the same
jars (the directory build.sbt names as unmanagedBase, else
$SPARK_HOME/jars), and reuses that build until a source file changes.
The run itself is one JVM (perfbench.Main) on a local[nproc] Spark
session; it prints every metric by name and, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. Records and
traces land in .bench_build/perfbench/.

--smoke runs every workload once at sf0.001 size with a 2x widening
and every output check: the benchmark's own test.

Exits non-zero, without a result, when the engine's sources are missing
or the build fails; exits non-zero after the result when an op or an
output check failed.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
SCALA_JARS = ("scala-compiler-2.13.", "scala-library-2.13.", "scala-reflect-2.13.")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(jars):
    """Hash of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256("\n".join(jars).encode())
    inputs = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def jar_dir():
    """The jar directory the engine's build compiles against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no jar directory: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def toolchain():
    """The Spark distribution's jars, and the Scala compiler among them."""
    where = jar_dir()
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(SCALA_JARS)]
    if len(compiler) != len(SCALA_JARS):
        fail(f"no Scala compiler, library and reflect jars under {where}")
    return jars, compiler


def build():
    jars, compiler = toolchain()
    stamp = source_stamp(jars)
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    classes = os.path.join(BUILD, "classes")
    tmp = os.path.join(BUILD, "compile-tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    sources = os.path.join(BUILD, "sources.txt")
    with open(sources, "w") as f:
        for top in (ENGINE_SRC, os.path.join(HERE, "src")):
            for d, _, files in sorted(os.walk(top)):
                f.writelines(os.path.join(d, n) + "\n" for n in sorted(files) if n.endswith(".scala"))
    log = os.path.join(BUILD, "build.log")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-classpath", os.pathsep.join(jars), "-d", classes, "@" + sources]
    with open(log, "w") as f:
        code, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(log) as f:
            sys.stderr.writelines(f.readlines()[-30:])
        fail(f"build failed (exit {code}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(os.pathsep.join([classes] + jars))
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # this run's scratch: inputs, outputs and the engine's temp files
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--out", BUILD, "--work", work, "--seed", str(a.seed),
            "--trace", str(a.trace)]
    if a.smoke:
        cmd += ["--workload", "all", "--seconds", "1", "--smoke"]
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds)]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
