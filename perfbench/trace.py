"""Per-operation layer metrics read from Spark's own status surfaces.

One operation at a time runs (closed loop), so every job, stage and SQL
execution whose id was allocated while the operation ran belongs to it.
Attribution is by id range rather than by job group alone: streaming
micro-batch jobs run under their query's own group. The operation's
job group is still set, so Spark's logs name it.

* stages: ``AppStatusStore.lastStageAttempt`` (run and CPU time, bytes
  written, shuffled and spilled, submission/completion times);
* SQL executions: ``SQLAppStatusStore`` metrics (files and bytes
  scanned, Arrow bytes and rows across the Python boundary);
* micro-batches: a ``StreamingQueryListener``, matched to operations by
  batch start time.

The stores keep about 1,000 stages and executions, so ``Tracer.end``
reads them after every operation.
"""

from __future__ import annotations

import re
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

STAGE_KEYS = (
    "spark.jobs spark.stages spark.tasks spark.failed_tasks spark.task_busy_s "
    "spark.task_cpu_s spark.driver_gap_s shuffle.write_bytes shuffle.read_bytes "
    "shuffle.spill_bytes sources.scan_bytes sources.scan_files "
    "sources.write_bytes sources.write_s arrow.rows_to_python "
    "arrow.bytes_to_python arrow.bytes_from_python"
).split()

STREAM_KEYS = (
    "streaming.batches streaming.no_data_batches streaming.trigger_ms "
    "streaming.add_batch_ms streaming.wal_commit_ms streaming.commit_offsets_ms "
    "streaming.query_planning_ms streaming.state_commit_ms streaming.state_rows"
).split()

_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.query_planning_ms": "queryPlanning",
}

_SQL_KEYS = {
    "number of files read": "sources.scan_files",
    "size of files read": "sources.scan_bytes",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a SQL metric as the status store formats it: a plain
    sum ('6,000'), a size ('114.5 KiB'), or either after a
    'total (min, med, max ...)' header line."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class _Listener(StreamingQueryListener):
    def __init__(self):
        super().__init__()
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        rec = {
            "run": str(p.runId),
            "start": ts,
            "rows": p.numInputRows,
            "dur": dict(p.durationMs),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def begin(self, op: str) -> dict:
        self._sc.setJobGroup(f"perfbench:{op}", op)
        return {
            "job": self._dag.nextJobId(),
            "stage": self._dag.nextStageId(),
            "exec": self._last_execution_id(),
            "t0": time.time(),
        }

    def end(self, tok: dict) -> dict:
        """Layer metrics of the operation started by ``begin``."""
        t1 = time.time()
        job1, stage1 = self._dag.nextJobId(), self._dag.nextStageId()
        rec = dict.fromkeys(STAGE_KEYS, 0.0)
        rec["spark.jobs"] = job1 - tok["job"]
        spans = []
        for sid in range(tok["stage"], stage1):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j wraps NoSuchElement for never-run stages
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            rec["spark.stages"] += 1
            rec["spark.tasks"] += sd.numTasks()
            rec["spark.failed_tasks"] += sd.numFailedTasks()
            run_s = sd.executorRunTime() / 1e3
            rec["spark.task_busy_s"] += run_s
            rec["spark.task_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["shuffle.write_bytes"] += sd.shuffleWriteBytes()
            rec["shuffle.read_bytes"] += sd.shuffleReadBytes()
            rec["shuffle.spill_bytes"] += sd.diskBytesSpilled()
            if sd.outputBytes():
                rec["sources.write_bytes"] += sd.outputBytes()
                rec["sources.write_s"] += run_s
            a, b = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
            if a is not None:
                spans.append((a / 1e3, (b if b is not None else t1 * 1e3) / 1e3))
        rec["spark.driver_gap_s"] = (t1 - tok["t0"]) - _covered(spans, tok["t0"], t1)
        self._read_sql(tok["exec"], rec)
        rec["window"] = (tok["t0"], t1)
        return rec

    def _read_sql(self, after: int, rec: dict) -> None:
        last = self._last_execution_id()
        for eid in range(after + 1, last + 1):
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                continue
            values = self._sql.executionMetrics(eid)
            seen = set()
            it = opt.get().metrics().iterator()
            while it.hasNext():
                m = it.next()
                acc = m.accumulatorId()
                if acc in seen:
                    continue
                seen.add(acc)
                key = _SQL_KEYS.get(m.name())
                if key is None:
                    continue
                v = values.get(acc)
                if v.isDefined():
                    rec[key] += parse_metric(v.get())
            rec["arrow.rows_to_python"] += self._rows_to_python(eid, values)

    def _rows_to_python(self, eid: int, values) -> float:
        """Rows entering each Python-boundary node: the output rows of the
        nearest descendant that counts them (sorts and exchanges do not)."""
        graph = self._sql.planGraph(eid)
        nodes, children = {}, {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            n = it.next()
            metrics = {}
            mi = n.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                metrics[m.name()] = m.accumulatorId()
            nodes[n.id()] = metrics
        it = graph.edges().iterator()
        while it.hasNext():
            e = it.next()
            children.setdefault(e.toId(), []).append(e.fromId())
        total = 0.0
        for nid, metrics in nodes.items():
            if "data sent to Python workers" not in metrics:
                continue
            todo = list(children.get(nid, []))
            while todo:
                c = todo.pop()
                acc = nodes.get(c, {}).get("number of output rows")
                if acc is None:
                    todo.extend(children.get(c, []))
                    continue
                v = values.get(acc)
                if v.isDefined():
                    total += parse_metric(v.get())
        return total

    def streaming(self, windows: list[tuple[float, float]]) -> list[dict]:
        """Micro-batch totals per operation window (listener events are
        delivered asynchronously, so call this after the pass)."""
        time.sleep(0.5)
        with self._listener.lock:
            progress = list(self._listener.progress)
        out = []
        for lo, hi in windows:
            rec = dict.fromkeys(STREAM_KEYS, 0.0)
            last_state: dict[str, float] = {}
            for p in progress:
                if not lo <= p["start"] <= hi:
                    continue
                rec["streaming.batches"] += 1
                rec["streaming.no_data_batches"] += p["rows"] == 0
                for key, dur in _DURATIONS.items():
                    rec[key] += p["dur"].get(dur, 0)
                rec["streaming.state_commit_ms"] += p["state_commit_ms"]
                last_state[p["run"]] = p["state_rows"]
            rec["streaming.state_rows"] = sum(last_state.values())
            out.append(rec)
        return out
