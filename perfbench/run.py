"""Benchmark of the public calls: one command, one workload per run.

    python3 perfbench/run.py --workload query_local --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source on first use (see
build.py), then runs one JVM with Spark on local[nproc]. The JVM prints
human-readable lines and, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run and
writes its spans to <build dir>/results/. See perfbench/README.md.

Every file the run writes stays under the build dir; its scratch dir is
removed at exit. The JVM is killed if it outlives the time limit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["query_local", "write_mix", "pipeline"]
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the root build.sbt lists the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def driver_mem():
    """Half of MemTotal, clamped to 2..8 GiB; SPARK_DRIVER_MEM overrides."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return "%dg" % min(8, max(2, g))
    except OSError:
        pass
    return "2g"


def new_scratch():
    """A fresh scratch dir under <build dir>/tmp; the caller removes it."""
    tmp = os.path.join(build.build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=tmp)


def java_cmd(cp, scratch, main_class, args):
    """The JVM command line of one run, with every temp file in `scratch`."""
    java_tmp = os.path.join(scratch, "java-tmp")
    os.makedirs(java_tmp, exist_ok=True)
    opts = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")]
    mem = driver_mem()
    # A fixed-size heap and the throughput collector: no heap resizing and
    # no concurrent marking threads competing with the measured work.
    # -UsePerfData: no hsperfdata file outside the checkout.
    return ["java", "-Xms" + mem, "-Xmx" + mem, "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + java_tmp,
            "-Dlog4j.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties")
            ] + opts + ["-cp", cp, main_class] + args


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    try:
        classes = build.build()
        cp = build.classpath(classes)
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    out_dir = os.path.join(build.build_dir(), "results")
    os.makedirs(out_dir, exist_ok=True)
    scratch = new_scratch()
    cmd = java_cmd(cp, scratch, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()), "--scratch", scratch,
        "--out", out_dir, "--bench-dir", build.BENCH_DIR])
    proc = None
    last = None
    killed = []

    def kill():
        killed.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    try:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        timer = threading.Timer(RUN_LIMIT_S, kill)
        timer.start()
        try:
            # stdout is relayed line by line; the JVM's last line is the result
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line
                else:
                    print(line, flush=True)
            proc.wait()
        finally:
            timer.cancel()
        if killed:
            print("perfbench: run exceeded %d s, killed" % RUN_LIMIT_S, file=sys.stderr)
            return 3
        if proc.returncode != 0 or last is None:
            print("perfbench: benchmark JVM failed (code %s)" % proc.returncode, file=sys.stderr)
            return 4
        json.loads(last)
        print(last, flush=True)
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
