#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates the workload's tables from the
seed under ``.perfbench_work/`` in the checkout, then runs worker.py in a
child process whose temporary files, Spark local dirs and warehouse all
stay inside that directory, and waits for it (and the JVM it starts) to
end. The child's last line of standard output is the result: one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer ones with ``--trace 1``).
The run's full record (samples, per-query accounting, noise readings) is
kept in ``.perfbench_results/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from datagen import write_tables  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "os___mapreduceframework_spark"
# the whole run must end within 180 s; leave room to stop the child
CHILD_TIMEOUT_S = 165
# the driver JVM's heap: the factory's 32g default exceeds a small machine's memory
DRIVER_MEM = "2g"


def _kill_group(child: subprocess.Popen) -> None:
    """Kill what is left of the child's process group and wait until the
    group is empty."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    for _ in range(100):
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for needed in (PACKAGE, "bench.py", os.path.join("scripts", "preflight_sweep.py")):
        if not os.path.exists(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found; run from the root of a checkout",
                  file=sys.stderr)
            return 2

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    t0 = time.perf_counter()
    digest = write_tables(data, args.seed, WORKLOADS[args.workload].sizes)
    print(f"# data seed={args.seed} sha256={digest[:16]} built in "
          f"{time.perf_counter() - t0:.2f}s", file=sys.stderr)

    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
        # keep the JVM out of /tmp: temp files and the hsperfdata file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SF_DIR=data,
        PYTHONWARNINGS="ignore::FutureWarning",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work]
    child = subprocess.Popen(cmd, env=env, cwd=work, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        code = 1
    finally:
        # the child's process group holds the JVM and the Python workers too
        _kill_group(child)
    results = os.path.join(root, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    record = os.path.join(work, "results", "record.json")
    if os.path.exists(record):
        shutil.copy(record, os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
