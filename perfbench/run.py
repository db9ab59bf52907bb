"""Benchmark entry point (the ``command`` of BENCHMARK.json).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Starts ``harness.py`` in its own process
group with every scratch path (temp files, Spark local dirs, the Python
package zip, the compiled CDC kernel, the event log) inside
``.perfbench_tmp/`` of the current directory, waits for it, kills whatever
it left behind, removes the scratch directory, and prints the run's
summary lines followed by one JSON result line. ``--trace 1`` turns on
Spark's event log through the launch config (the harness keeps its
listener detached until the traced pass) and reports per-layer metrics
instead of end-to-end ones.

Exits non-zero without a result when the program under test
(``dedup_spark/`` and ``__spark_entry__.py``) is not in the current
directory, or when the run fails or overruns its time limit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

from harness import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
TIME_LIMIT_S = 175
# Heap for the local-mode driver JVM (the program's SPARK_DRIVER_MEM knob):
# the benchmark's inputs are small and the host is shared.
DRIVER_MEM = "3g"
# JVM flags (the program's SPARK_GC_FLAGS knob): its default collector, and
# C1-only JIT. With C2, passes at these input sizes kept drifting down for
# about ten passes while C2 compiler threads took 3-5 CPU seconds per pass
# from the work; with C1 they settle after one warm pass.
JVM_FLAGS = "-XX:+UseParallelGC -XX:TieredStopAtLevel=1"


def _live_members(pgid: int) -> int:
    """Processes of group ``pgid`` that have not exited (zombies excluded)."""
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        n += int(rest[2]) == pgid and rest[0] != "Z"
    return n


def _kill_group(child: subprocess.Popen) -> None:
    """SIGKILL the child's process group, reap the child and wait until
    every other member has exited."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    deadline = time.time() + 10
    while _live_members(child.pid) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("dedup_spark/pipeline.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from the "
                  "repository root", file=sys.stderr)
            return 2

    work = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
    tmp, eventlog = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (tmp, eventlog, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if args.trace:
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{eventlog}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_GC_FLAGS=f"{JVM_FLAGS} -Djava.io.tmpdir={tmp}",
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    result = os.path.join(work, "result.txt")
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scratch", work, "--eventlog", eventlog, "--result", result]
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                             start_new_session=True)

    def _terminate(signum, _frame):
        sys.exit(128 + signum)  # unwinds through the clean-up below

    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    try:
        try:
            code = child.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIME_LIMIT_S} s",
                  file=sys.stderr)
            code = 3
        finally:
            _kill_group(child)
        if code == 0:
            with open(result) as f:
                sys.stdout.write(f.read())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
