"""The benchmark's workloads: fixed operation lists, how one pass runs
them, and the output checks made after the timed passes.

Why each workload exists (which layer dominates it):

* ``overhead_mix``: eight oracle-backed queries, one per query family
  (relational, temporal, dedup, text, sampling, Python UDF, streaming,
  sinks), on a seed-permuted sf0.001 copy (6k lineitem rows, 500
  documents). The data is tiny, so driver planning, job/stage/task
  scheduling, eager checkpoints and micro-batch overhead are nearly all
  of the time. A kernel or shuffle optimisation should not move it.
* ``tpch_large``: TPC-H Q4 (semi-join) and Q18 (join + aggregate), a
  window rank and a per-group top-k on a 300x key-offset replica of
  sf0.001 (1.8M lineitem rows). These are the registry operations whose
  time grows most with rows: a warm pass takes 4x its sf0.001 time in
  the same session (3x at 200x, too close to the line), so scan,
  shuffle, join, sort and aggregation compute dominate and a
  per-action-floor cut shows only as its small share.
* ``gbt_train_score``: the paper's workload through the Estimator API
  on a 16x lineitem replica (96k rows, the four flagship features): a
  ``num_workers=1`` regressor fit, the same fit with ``num_workers=2``
  (barrier rendezvous + allreduce), a 3-class classifier fit, then
  transform and score of every row into pandas over Arrow. The Arrow
  boundary and the numpy histogram kernel dominate: in traced runs about
  80% of the ``num_workers=1`` fit is task time (Arrow transfer into the
  Python worker, ``batches_to_matrices`` and the kernel), the kernel
  alone over half of the fit; the driver-side gap (no stage running) is
  under a fifth of the pass, against 28% at 48k rows. The rows are a
  sixth of sf0.1's 600k, to keep a run within its time budget. SQL
  operators are nearly idle.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench.inputs import TABLES

FEATURES = ["l_quantity", "l_discount", "l_tax", "l_linenumber"]
REG_PARAMS = dict(n_estimators=20, max_depth=5, learning_rate=0.3)
CLF_PARAMS = dict(n_estimators=10, max_depth=4)
RETURNFLAG_CLASS = {"A": 0, "N": 1, "R": 2}
PARITY_ATOL = 1e-3  # num_workers=1 vs 2 predictions (BASELINE.md parity bar)
# The label carries almost no signal in the features, so a working fit
# beats the label mean's RMSE by only ~6% in-sample; the Spark fit is
# held to the in-process kernel's RMSE on the same rows instead, which a
# fit that learned only the mean misses by that 6%.
RMSE_RTOL = 1e-3
# histogram payload of one tree level: (grad, hess) x 16 nodes x 4
# features x 257 bins, float64
ALLREDUCE_SHAPE = (2, 16, len(FEATURES), 257)
ALLREDUCE_ROUNDS = 20

OVERHEAD_MIX = (
    "agg_group",
    "join_asof",
    "dedup_exact",
    "text_quality_score",
    "sample_stratified_by_source",
    "udaf_group_median",
    "events_stream_dedup",
    "sink_merge_upsert",
)

TPCH_LARGE = (
    "tpch_q4_order_priority",
    "tpch_q18_large_volume_customer",
    "window_rank",
    "topk_per_group",
)

GBT_OPS = ("fit_reg_w1", "fit_reg_w2", "fit_clf", "score")


def run_op(name, build, action, tracer=None):
    """Time one operation: ``build`` (eager work in the query call) then
    ``action`` (the Spark action that consumes its result)."""
    tok = tracer.begin(name) if tracer else None
    rec = {"op": name}
    out = None
    t0 = time.perf_counter()
    try:
        obj = build()
        t1 = time.perf_counter()
        out = action(obj)
        t2 = time.perf_counter()
        rec.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
    except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
        rec.update(wall_s=time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:500])
        traceback.print_exc(file=sys.stderr)
    if tracer:
        rec["layers"] = tracer.end(tok)
    return rec, out


class SqlWorkload:
    """Registry queries; each output is checked against its DuckDB oracle."""

    tables = TABLES

    def __init__(self, ops: tuple[str, ...], scale: int, warmups: int):
        self.ops, self.scale, self.warmups = ops, scale, warmups

    def run_pass(self, spark, sf_dir: str, tracer=None) -> list[dict]:
        from pyspark_xgboost_spark import registry

        queries = registry.all_queries()
        recs = []
        for op in self.ops:
            rec, out = run_op(
                op,
                lambda op=op: queries[op](spark, sf_dir),
                lambda df: (df.columns, df.collect()),
                tracer,
            )
            rec["output"] = out
            rec["rows"] = len(out[1]) if out else 0
            recs.append(rec)
        return recs

    def check(self, ctx, recs: list[dict]) -> None:
        """Set ``problem`` on every record whose output is wrong."""
        for rec in recs:
            out = rec.pop("output", None)
            if "error" in rec:
                rec["problem"] = rec["error"]
                continue
            problem = ctx.oracle.check(rec["op"], *out)
            if problem:
                rec["problem"] = problem


def _assembled(spark, sf_dir: str):
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", *FEATURES, "l_extendedprice", "l_returnflag"
    )
    cls = F.lit(None).cast("double")
    for flag, k in RETURNFLAG_CLASS.items():
        cls = F.when(F.col("l_returnflag") == flag, float(k)).otherwise(cls)
    li = li.withColumn("label", F.col("l_extendedprice")).withColumn("cls", cls)
    return VectorAssembler(inputCols=FEATURES, outputCol="features").transform(li)


class GbtWorkload:
    """Estimator-API fits and scoring on lineitem."""

    ops = GBT_OPS
    tables = ("lineitem",)

    def __init__(self, scale: int, warmups: int):
        self.scale, self.warmups = scale, warmups

    def run_pass(self, spark, sf_dir: str, tracer=None) -> list[dict]:
        from pyspark_xgboost_spark.ml.estimator import XgboostClassifier, XgboostRegressor

        fits = {
            "fit_reg_w1": lambda ds: XgboostRegressor(**REG_PARAMS, num_workers=1).fit(ds),
            "fit_reg_w2": lambda ds: XgboostRegressor(**REG_PARAMS, num_workers=2).fit(ds),
            "fit_clf": lambda ds: XgboostClassifier(
                **CLF_PARAMS, num_workers=1, labelCol="cls"
            ).fit(ds),
        }
        recs, models = [], {}
        for op, fit in fits.items():
            rec, models[op] = run_op(op, lambda: _assembled(spark, sf_dir), fit, tracer)
            rec["output"] = models[op]
            recs.append(rec)
        reg = models["fit_reg_w1"]
        if reg is None:
            rec = {"op": "score", "wall_s": 0.0, "error": "no regressor to score with"}
        else:
            rec, scored = run_op(
                "score",
                lambda: reg.transform(_assembled(spark, sf_dir)).select(
                    "l_orderkey", "l_linenumber", "label", "prediction"
                ),
                lambda df: df.toPandas(),
                tracer,
            )
            rec["output"] = scored
            rec["rows"] = len(scored) if scored is not None else 0
        recs.append(rec)
        return recs

    def check(self, ctx, recs: list[dict]) -> None:
        by_op = {r["op"]: r for r in recs}
        out = {op: r.pop("output", None) for op, r in by_op.items()}
        for r in recs:
            if "error" in r:
                r["problem"] = r["error"]
        X, y = ctx.matrix()
        w1, w2, clf, scored = (out[op] for op in GBT_OPS)
        if scored is not None and w1 is not None:
            # the Spark fit reproduces the in-process kernel's in-sample
            # error, and the Spark scoring path agrees with its booster
            pred = scored["prediction"].to_numpy()
            rmse = float(np.sqrt(np.mean((pred - scored["label"].to_numpy()) ** 2)))
            ref = ctx.reference_rmse()
            by_op["score"].update(rmse=rmse, reference_rmse=ref)
            if len(scored) != len(y):
                by_op["score"]["problem"] = f"scored {len(scored)} of {len(y)} rows"
            elif not abs(rmse - ref) <= RMSE_RTOL * ref:
                by_op["score"]["problem"] = f"rmse {rmse:.2f}, in-process kernel {ref:.2f}"
            elif not np.allclose(
                np.sort(pred), np.sort(w1.get_booster().predict(X)), rtol=1e-6, atol=PARITY_ATOL
            ):
                by_op["score"]["problem"] = "transform predictions differ from the booster's"
        if w1 is not None and w2 is not None:
            p1 = w1.get_booster().predict(X)
            p2 = w2.get_booster().predict(X)
            diff = float(np.max(np.abs(p1 - p2)))
            by_op["fit_reg_w2"]["max_abs_diff_vs_w1"] = diff
            if not diff <= PARITY_ATOL:
                by_op["fit_reg_w2"]["problem"] = f"num_workers=2 predictions differ by {diff}"
        if clf is not None:
            prob = np.asarray(clf.get_booster().predict(X))
            classes = prob.argmax(axis=1) if prob.ndim == 2 else None
            if (
                prob.ndim != 2
                or prob.shape != (len(X), len(RETURNFLAG_CLASS))
                or not np.allclose(prob.sum(axis=1), 1.0, atol=1e-6)
                or not set(np.unique(classes)) <= set(RETURNFLAG_CLASS.values())
            ):
                by_op["fit_clf"]["problem"] = f"invalid class probabilities, shape {prob.shape}"

    def layer_probe(self, spark, sf_dir: str, recs: list[dict], seed: int) -> dict:
        """ml.* layer metrics: the traced pass's estimator timings beside
        in-process calls into ml.data, ml.booster and ml.comm on the
        same training rows and parameters."""
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        from pyspark_xgboost_spark.ml import booster as kernel
        from pyspark_xgboost_spark.ml.data import batches_to_matrices

        wall = {r["op"]: r["wall_s"] for r in recs}
        pdf = (
            _assembled(spark, sf_dir)
            .select(
                vector_to_array("features", "float32").alias("values"),
                F.col("label").cast("double"),
            )
            .toPandas()
        )
        step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        batches = [pdf.iloc[i : i + step] for i in range(0, len(pdf), step)]
        t = time.perf_counter()
        train_b, _ = batches_to_matrices(iter(batches))
        to_matrix_s = time.perf_counter() - t

        class CountingComm(kernel.LocalComm):
            rounds = nbytes = 0

            def allreduce_sum(self, arr):
                self.rounds += 1
                self.nbytes += arr.nbytes
                return arr

            def allgather_rows(self, arr):
                self.rounds += 1
                self.nbytes += arr.nbytes
                return arr

        comm = CountingComm()
        t = time.perf_counter()
        bst = kernel.train(
            train_b.X, train_b.y, {**REG_PARAMS, "objective": "reg:squarederror"}, comm=comm
        )
        train_s = time.perf_counter() - t
        t = time.perf_counter()
        bst.predict(train_b.X)
        predict_s = time.perf_counter() - t
        rendezvous_ms, allreduce_ms = loopback_comm_ms(f"perfbench-{os.getpid()}-{seed}")
        n = len(pdf)
        fits = ("fit_reg_w1", "fit_reg_w2", "fit_clf")
        return {
            "ml.estimator.fit_s": wall["fit_reg_w1"],
            "ml.estimator.fit_dist_s": wall["fit_reg_w2"],
            "ml.estimator.fit_clf_s": wall["fit_clf"],
            "ml.estimator.transform_s": wall["score"],
            "ml.estimator.fit_rows_per_s": n * len(fits) / sum(wall[f] for f in fits),
            "ml.estimator.score_rows_per_s": n / wall["score"],
            "ml.fit_overhead_s": wall["fit_reg_w1"] - train_s - to_matrix_s,
            "ml.data.to_matrix_s": to_matrix_s,
            "ml.booster.train_s": train_s,
            "ml.booster.predict_s": predict_s,
            "ml.booster.comm_rounds": comm.rounds,
            "ml.booster.comm_bytes": comm.nbytes,
            "ml.comm.rendezvous_ms": rendezvous_ms,
            "ml.comm.allreduce_ms": allreduce_ms,
        }


def loopback_comm_ms(cookie: str) -> tuple[float, float]:
    """Rendezvous time and median allreduce time (ms) of two loopback
    ranks joined through ``build_tree_comm``, one thread per rank."""
    from pyspark_xgboost_spark.ml.comm import build_tree_comm

    hosts = ["127.0.0.1", "127.0.0.1"]
    payload = np.ones(ALLREDUCE_SHAPE)
    comms, errors, samples = [None, None], [], []

    def rank_main(rank: int, ready: threading.Barrier) -> None:
        try:
            comms[rank] = build_tree_comm(rank, 2, hosts, cookie, fanout=2, deadline_s=30.0)
            ready.wait(timeout=60)
            for _ in range(ALLREDUCE_ROUNDS):
                t = time.perf_counter()
                out = comms[rank].allreduce_sum(payload)
                if rank == 0:
                    samples.append(time.perf_counter() - t)
                    if not np.array_equal(out, 2 * payload):
                        raise ValueError("loopback allreduce returned a wrong sum")
            comms[rank].close()
        except Exception as e:  # noqa: BLE001 — re-raised on the calling thread
            errors.append(e)
            ready.abort()

    ready = threading.Barrier(3)
    threads = [threading.Thread(target=rank_main, args=(r, ready)) for r in (0, 1)]
    t = time.perf_counter()
    for th in threads:
        th.start()
    try:
        ready.wait(timeout=60)
    except threading.BrokenBarrierError:
        pass
    rendezvous_s = time.perf_counter() - t
    for th in threads:
        th.join(timeout=60)
    if errors or any(th.is_alive() for th in threads):
        raise RuntimeError(f"loopback comm probe failed: {errors}")
    return rendezvous_s * 1e3, statistics.median(samples) * 1e3


def lineitem_matrix(sf_dir: str):
    """Features and regression label of a lineitem copy, read without
    Spark."""
    t = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    X = np.column_stack([t[c].to_numpy().astype(np.float32) for c in FEATURES])
    return X, t["l_extendedprice"].to_numpy().astype(np.float64)


# Warm-up passes before timing, each on a fresh full-size copy. The first
# takes the cold-JVM cost (codegen, worker spawn, most JIT compiling).
# After only one, the next pass of the SQL workloads still runs partly
# interpreted code: 15-35% more CPU besides the JIT threads' own. One
# pass settles the GBT kernel, which runs in Python workers.
WORKLOADS = {
    "overhead_mix": SqlWorkload(OVERHEAD_MIX, scale=1, warmups=2),
    "tpch_large": SqlWorkload(TPCH_LARGE, scale=300, warmups=2),
    "gbt_train_score": GbtWorkload(scale=16, warmups=1),
}
