"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload overhead_mix --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run itself happens in a child
process (perfbench/bench.py) with launch settings fixed here:

* ``PYTHONPATH`` holds the checkout, so Spark's Python workers import
  the package whatever the working directory;
* the session runs on ``local[nproc]`` with a driver heap sized to a
  quarter of the machine's memory (at most 8g);
* Spark's local dirs, the JVM and Python temp dirs and the warehouse
  live in a per-run directory under ``.perfbench_work/``, and
  ``SPARK_GRAFT_TMP_NS`` gives the engine's /tmp staging trees a per-run
  name, so no earlier run's staged state is ever read.

Afterwards every process the child started (the JVM and the Python
workers, whatever their process group) is killed and waited for,
and the per-run directory and staging trees are removed. The run's full
record (per-operation samples, calibration, launch settings, traced
layer records) is kept under ``.perfbench_work/results/``. A failed or
timed-out run prints no result and exits non-zero.
"""

from __future__ import annotations

import ctypes
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import process_tree  # noqa: E402 (needs ROOT on sys.path)

TIMEOUT_S = 150  # leaves room for the reaping below within a 180 s limit
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def _driver_mem() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(8, total_kb // (4 << 20)))}g"


def _reap(child: subprocess.Popen) -> None:
    """Kill every process the run started and wait until each has ended.
    This process is a child subreaper, so descendants whose parent has
    died are re-parented to it and still found: the Python workers sit
    in a process group of their own and can outlive the JVM."""
    deadline = time.time() + 10
    while time.time() < deadline:
        pids = process_tree(os.getpid())[1:]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def main() -> int:
    argv = sys.argv[1:]
    if not os.path.isdir(os.path.join(ROOT, "pyspark_xgboost_spark")):
        print("perfbench: the engine package is missing from this checkout", file=sys.stderr)
        return 2
    ns = f"_perfbench_{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", f"run{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    name = "-".join(a.lstrip("-") for a in argv).replace("/", "_")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_TMP_NS=ns,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=_driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PERFBENCH_T0=repr(T0),
        PERFBENCH_ROOT=ROOT,
        PERFBENCH_WORK=work,
        PERFBENCH_RESULT=os.path.join(work, "result.json"),
        PERFBENCH_ARTIFACT=os.path.join(ROOT, ".perfbench_work", "results", f"{name}.json"),
    )
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # SIGTERM takes the same cleanup path as a normal exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = None
    try:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.bench", *argv],
            cwd=ROOT,
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            rc = child.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
            rc = 1
        finally:
            _reap(child)
            child.wait()
        if rc == 0:
            with open(env["PERFBENCH_RESULT"]) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for d in glob.glob(f"/tmp/*{ns}*"):
            shutil.rmtree(d, ignore_errors=True)
    if result is None:
        return rc or 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
