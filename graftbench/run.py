#!/usr/bin/env python3
"""Build graft from this checkout and run one benchmark workload.

Usage, from the root of a checkout:
    python3 graftbench/run.py --workload query_sweep --seed 1 --seconds 10 --trace 0

The first call compiles graft's sources together with the harness under
graftbench/src (sbt, offline); later calls reuse the build until a source
file changes. The workload runs in one JVM with local Spark. Its stderr
carries progress and the box-health record; the last line of stdout is the
result JSON. Scratch files live under graftbench/work and are removed at
exit; health records and trace spans are kept under graftbench/out.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STAMP = os.path.join(BENCH, "target", "bench-classpath.txt")
WORKLOADS = ("query_sweep", "cdc_ingest", "notebook_sql")
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


CHILD = None  # the build or workload process this run waits for
WORK = None   # this run's scratch directory


def run_child(cmd, timeout, **kw):
    """Runs cmd in a process group of its own and returns (returncode,
    stdout, stderr), or None on a timeout. The group is killed and waited
    for when the command ends, times out or this run is stopped, so no
    process outlives the run."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True,
                             stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, err = CHILD.communicate(timeout=timeout)
        return CHILD.returncode, out, err or ""
    except subprocess.TimeoutExpired:
        return None
    finally:
        kill_child()


def kill_child():
    global CHILD
    if CHILD is not None:
        try:
            os.killpg(CHILD.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        CHILD.wait()
        CHILD = None


def stop(signum, _frame):
    kill_child()
    if WORK:
        shutil.rmtree(WORK, ignore_errors=True)
    fail(f"stopped by signal {signum}")


def fixed_layout():
    """Turns off address-space randomisation for the JVM about to start
    (personality(2) with ADDR_NO_RANDOMIZE, as `setarch -R` does), so that
    every run places its code and heap alike. With randomisation on,
    query_sweep's CPU times moved by whole runs: all four queries 10-15%
    slower in one JVM than in the next; over ten seeds the round CPU
    time's interquartile range was 0.146 of its median, and 0.066 in ten
    later runs without randomisation. Where the call is refused, the run
    goes on with randomisation."""
    try:
        import ctypes
        ctypes.CDLL(None, use_errno=True).personality(0x0040000)
    except (OSError, AttributeError):
        pass


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")


def classpath():
    """The runtime classpath, building first when the stamp is missing or
    older than any source file."""
    if os.path.exists(STAMP):
        built = os.path.getmtime(STAMP)
        if all(os.path.getmtime(f) <= built for f in sources()):
            with open(STAMP) as fh:
                return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    print("[graftbench] building graft and the harness (sbt compile)", file=sys.stderr)
    res = run_child(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env, stderr=subprocess.PIPE)
    if res is None:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    rc, out, err = res
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", action="store_true",
                    help="plant a wrong output; the run must then report correct=false")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found next to graftbench/")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    cp = classpath()

    global WORK
    work = WORK = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed-size heap and the throughput collector keep heap resizing
    # and concurrent marking out of the timings. The JVM runs C1-compiled
    # code only: in a run under a minute, C2 compiled the hot paths at
    # different moments in different runs, and query_sweep's rounds took
    # between 2.30 and 3.25 CPU seconds across four seeds (under C1: 2.87
    # to 3.09 s), at the price of set-ups that take 5 s instead of 3 s.
    cmd += [
        "-XX:TieredStopAtLevel=1",
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
        # A fixed set of compiler and GC threads, which AppCpu finds once
        # and leaves out of the program's CPU time.
        "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UseDynamicNumberOfGCThreads",
        "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={work}",
        f"-Dderby.system.home={work}",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out, "--expected", os.path.join(BENCH, "expected"),
    ]
    if a.fault:
        cmd.append("--fault")
    res = run_child(cmd, RUN_TIMEOUT_S, cwd=work, preexec_fn=fixed_layout)
    shutil.rmtree(work, ignore_errors=True)
    if res is None:
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
    rc, stdout, _ = res
    lines = [l for l in stdout.splitlines() if l.strip()]
    if rc not in (0, 1) or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stdout[-4000:])
        fail(f"workload exited with code {rc} and no result")
    print(lines[-1], flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
