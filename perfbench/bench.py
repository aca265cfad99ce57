"""One benchmark run, in a fresh process that ``run.py`` starts and
cleans up after.

Sequence: generate the seeded input, start the session (``setup_s``),
run the operation list on fresh copies of the input as warm-up (the
first, cold pass is ``session.warmup_s``: codegen, JIT, Python worker
spawn), calibrate, run timed passes until ``--seconds`` have passed (at
least one), calibrate again, then (``--trace 1``) one traced pass, and
finally check every output. Every pass reads a fresh copy, so each
fingerprint-keyed memo and staged tree is built inside it. Tracing is
off in the timed passes.

A pass is timed in wall seconds and in CPU seconds of the whole engine
(this process, the JVM, the Python workers) less the JVM's JIT
compiler threads. That CPU figure, ``pass_cpu_s``, is the gated one. It
leaves out time the hypervisor steals from the machine, which on a
shared host moves wall time by 2x between runs (``calib.steal_frac``
records it; CPU time still rises by about a quarter under such steal),
and JIT compilation, which after the warm-up still takes a third to
three fifths of a pass's CPU and shrinks from pass to pass
(``jvm.jit_cpu_s`` records it). Wall time is in the record and in the
traced run's ``run.*`` metrics; it is not gated.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time

import numpy as np

from perfbench.inputs import InputSet
from perfbench.oracle import Oracle
from perfbench.procs import process_tree
from perfbench.trace import STAGE_KEYS, STREAM_KEYS, Tracer
from perfbench.workloads import REG_PARAMS, WORKLOADS, GbtWorkload, lineitem_matrix


def metric_units(root: str) -> tuple[dict, dict]:
    """Units of the end-to-end and per-layer metrics BENCHMARK.json lists."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _cpu_loop_s() -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t


def calibrate(spark) -> dict:
    """Host anchors: constant pure-Python work, and the warm per-action
    floor. Not gating; they tell host drift apart from a code change."""
    floor = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(1).count()
        floor.append(time.perf_counter() - t)
    return {
        "calib.cpu_loop_s": statistics.median(_cpu_loop_s() for _ in range(3)),
        "calib.action_floor_s": statistics.median(floor),
    }


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat;
    steal is time the hypervisor gave the CPUs to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def _cpu_ticks(stat_path: str) -> tuple[str, int]:
    """(thread or process name, utime + stime + cutime + cstime ticks)."""
    with open(stat_path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], sum(int(x) for x in tail.split()[11:15])


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the driver JVM and its
    descendants (the Python workers, live or reaped). Time the hypervisor
    stole from the machine is not in it."""
    ticks = 0
    for pid in [os.getpid(), *process_tree(jvm_pid)]:
        try:
            ticks += _cpu_ticks(f"/proc/{pid}/stat")[1]
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. The
    JVM is started with a fixed set of them, so none exits and takes
    its count along."""
    ticks = 0
    for stat in glob.glob(f"/proc/{jvm_pid}/task/*/stat"):
        try:
            name, t = _cpu_ticks(stat)
        except OSError:
            continue
        if name.startswith(("C1 Compiler", "C2 Compiler")):
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of the driver JVM and its descendants (the Python
    workers)."""
    kb = 0
    for pid in process_tree(spark.sparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


class CheckContext:
    """What the output checks compare against, built once per run."""

    def __init__(self, root: str, master_dir: str):
        self._root, self._master = root, master_dir
        self._oracle = self._matrix = None

    @property
    def oracle(self) -> Oracle:
        if self._oracle is None:
            from pyspark_xgboost_spark import registry

            self._oracle = Oracle(self._root, self._master, registry.all_oracles())
        return self._oracle

    def matrix(self):
        if self._matrix is None:
            self._matrix = lineitem_matrix(self._master)
        return self._matrix

    def reference_rmse(self) -> float:
        """In-sample RMSE of the regressor's parameters trained by the
        kernel in this process on the same rows."""
        from pyspark_xgboost_spark.ml import booster as kernel

        X, y = self.matrix()
        bst = kernel.train(X, y, {**REG_PARAMS, "objective": "reg:squarederror"})
        return float(np.sqrt(np.mean((bst.predict(X) - y) ** 2)))

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_totals(recs: list[dict], stream: list[dict], cpus: int) -> dict:
    """Per-layer totals of a traced pass; each operation's micro-batch
    figures are merged into its own layer record."""
    m = {k: 0.0 for k in STAGE_KEYS + STREAM_KEYS}
    for rec, srec in zip(recs, stream):
        for k in STAGE_KEYS:
            m[k] += rec["layers"][k]
        for k in STREAM_KEYS:
            m[k] += srec[k]
        rec["layers"].update(srec)
        rec["layers"].pop("window", None)
    wall = sum(r["wall_s"] for r in recs)
    m["spark.slot_util"] = m["spark.task_busy_s"] / (wall * cpus) if wall else 0.0
    m["operators.build_s"] = sum(r.get("build_s", 0.0) for r in recs)
    m["operators.action_s"] = sum(r.get("action_s", 0.0) for r in recs)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = float(os.environ["PERFBENCH_T0"])
    root, work = os.environ["PERFBENCH_ROOT"], os.environ["PERFBENCH_WORK"]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = WORKLOADS[args.workload]

    inputs = InputSet(os.path.join(work, "inputs"), args.seed, wl.scale, wl.tables)
    warm_dir = inputs.write_copy()

    from pyspark_xgboost_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        cpus=cpus,
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # JVM temp files go to the run directory; no hsperfdata in /tmp;
            # JIT compiler threads live as long as the JVM (see jit_cpu_s)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    spark.range(1).count()
    session_start_s = time.perf_counter() - t
    setup_s = time.time() - t_start
    jvm_pid = spark.sparkContext._gateway.proc.pid

    def timed_pass(tracer=None) -> dict:
        d = inputs.write_copy()
        c, j, t = engine_cpu_s(jvm_pid), jit_cpu_s(jvm_pid), time.perf_counter()
        recs = wl.run_pass(spark, d, tracer)
        wall = time.perf_counter() - t
        # CPU time counts whole clock ticks; rounding drops float noise only
        jit = round(jit_cpu_s(jvm_pid) - j, 6)
        cpu = round(engine_cpu_s(jvm_pid) - c - jit, 6)
        return {"pass_s": wall, "pass_cpu_s": cpu, "jit_cpu_s": jit, "ops": recs}

    warmups = []
    for _ in range(wl.warmups):
        warmups.append(timed_pass())
        for r in warmups[-1]["ops"]:
            r.pop("output", None)
    warmup_s = warmups[0]["pass_s"]

    calib_before = calibrate(spark)
    steal0, total0 = _cpu_jiffies()
    passes = []
    while not passes or sum(p["pass_s"] for p in passes) < args.seconds:
        passes.append(timed_pass())
    steal1, total1 = _cpu_jiffies()
    calib_after = calibrate(spark)
    steal_frac = (steal1 - steal0) / max(1, total1 - total0)

    layers = {}
    if args.trace:
        tracer = Tracer(spark)
        traced = timed_pass(tracer)
        stream = tracer.streaming([r["layers"]["window"] for r in traced["ops"]])
        tracer.close()
        layers = layer_totals(traced["ops"], stream, cpus)
        # CPU rather than wall: one wall pass against another is mostly
        # host noise, while the CPU cost of tracing is stable
        layers["trace.overhead_cpu_s"] = traced["pass_cpu_s"] - _median(
            [p["pass_cpu_s"] for p in passes]
        )
        if isinstance(wl, GbtWorkload):
            layers.update(wl.layer_probe(spark, inputs.master, traced["ops"], args.seed))
        passes.append(dict(traced, traced=True))

    ctx = CheckContext(root, inputs.master)
    try:
        for p in passes:
            wl.check(ctx, p["ops"])
    finally:
        ctx.close()
    rss = peak_rss_mb(spark)
    spark.stop()

    timed = [p for p in passes if not p.get("traced")]
    ops = [r for p in passes for r in p["ops"]]
    failed = sum(1 for r in ops if "problem" in r)
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": _median([p["pass_cpu_s"] for p in timed]),
    }
    wall = {
        "run.pass_wall_s": _median([p["pass_s"] for p in timed]),
        "run.op_p50_wall_s": _median([r["wall_s"] for p in timed for r in p["ops"]]),
        "jvm.jit_cpu_s": _median([p["jit_cpu_s"] for p in timed]),
    }
    e2e_units, layer_units = metric_units(root)
    if args.trace:
        layers.update({k: _median([calib_before[k], calib_after[k]]) for k in calib_before})
        layers.update(wall)
        layers["calib.steal_frac"] = steal_frac
        layers["session.start_s"] = session_start_s
        layers["session.warmup_s"] = warmup_s
        layers["session.peak_rss_mb"] = rss
        # the ml.* layers are not exercised by the SQL workloads
        values = {k: layers.get(k, 0.0) if k.startswith("ml.") else layers[k] for k in layer_units}
        units = layer_units
    else:
        values, units = {k: e2e[k] for k in e2e_units}, e2e_units
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "launch": {
            "master": f"local[{cpus}]",
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "pythonpath": os.environ.get("PYTHONPATH"),
            "tmp_ns": os.environ.get("SPARK_GRAFT_TMP_NS"),
            "input_rows": inputs.rows,
            "input_bytes": inputs.bytes_on_disk(),
        },
        "session_start_s": session_start_s,
        "end_to_end": e2e,
        "wall": wall,
        "peak_rss_mb": rss,
        "calibration": {
            "before": calib_before,
            "after": calib_after,
            "timed_passes": {"calib.steal_frac": steal_frac},
        },
        "warmups": warmups,
        "passes": passes,
        "attempted": len(ops),
        "failed": failed,
    }
    os.makedirs(os.path.dirname(os.environ["PERFBENCH_ARTIFACT"]), exist_ok=True)
    with open(os.environ["PERFBENCH_ARTIFACT"], "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    for r in ops:
        if "problem" in r:
            print(f"FAILED {r['op']}: {r['problem']}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    with open(os.environ["PERFBENCH_RESULT"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
