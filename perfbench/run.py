#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark sources into .bench_build/ when they
changed (perfbench/build.sh), runs one workload in one JVM, and prints the
result JSON as the last line of standard output. Extra flags for the
benchmark's own tests: --tiny (small inputs), --plant (inject one wrong
result, which the checks must report). The raw output of a run (config,
per-operation samples, spans) is written to .bench_build/results/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["pip_tile", "topo_build", "serve", "query_suite"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def spark_jars():
    """The Spark distribution's jars: $SPARK_JARS, else $SPARK_HOME/jars,
    else the jars beside the spark-submit found on PATH."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    return os.path.join(home, "jars")


def sources_stamp(root):
    """sha256 over the path and content of every source the build reads."""
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sh"):
        base = os.path.join(root, top)
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir, jars):
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    stamp = sources_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    subprocess.run(["bash", os.path.join("perfbench", "build.sh"), classes],
                   cwd=root, stdout=sys.stderr, check=True, env=dict(os.environ, SPARK_JARS=jars))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    for needed in ("src/main/scala", "perfbench/build.sh"):
        if not os.path.exists(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found; run from the repository root", file=sys.stderr)
            return 2
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    if not os.path.isdir(jars):
        print(f"perfbench: no Spark jars at {jars!r}; set SPARK_HOME or SPARK_JARS", file=sys.stderr)
        return 2
    try:
        classes = build(root, build_dir, jars)
    except subprocess.CalledProcessError as e:
        print(f"perfbench: build failed ({e.returncode})", file=sys.stderr)
        return 3

    run_dir = os.path.join(build_dir, "run")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    out = os.path.join(build_dir, "results",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}{'-tiny' if a.tiny else ''}"
                       f"{'-plant' if a.plant else ''}.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # fixed heap and generation sizes: GC work does not drift between runs
        "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp_dir}",
        f"-Dderby.system.home={tmp_dir}",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", run_dir, "--out", out, "--cores", str(cores),
        "--bench-dir", os.path.join(root, "perfbench"),
    ] + (["--tiny"] if a.tiny else []) + (["--plant"] if a.plant else []))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 4
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp_dir, ignore_errors=True)
        for d in os.listdir(run_dir):
            if d.startswith("work-"):
                shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stdout)
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 5
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
