"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (src/main/scala at the checkout root) and the
benchmark's own sources (perfbench/src) are compiled together with the
Scala compiler that ships in the Spark jar directory named by the root
build.sbt (`unmanagedBase`). SPARK_JARS overrides that directory.

The classes land in <build dir>/classes-<hash of every source file>, so a
checkout builds once and a changed source builds again. The build dir is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the checkout.

    python3 perfbench/build.py          # build (or reuse) and print the dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark jar directory: SPARK_JARS, else build.sbt's unmanagedBase."""
    env = os.environ.get("SPARK_JARS")
    if env:
        return env
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the checkout root: cannot locate the Spark jars")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources missing: %s" % PROGRAM_SRC)
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java")))
    return sorted(out)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile unless an up-to-date class dir exists; return its path."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = os.path.join(spark_jars(), "*")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir(), "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + build_dir(),
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with code %d" % r.returncode)
    # drop stale class dirs of earlier source versions
    for d in os.listdir(build_dir()):
        if d.startswith("classes-") and not d.endswith(".tmp"):
            shutil.rmtree(os.path.join(build_dir(), d), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
