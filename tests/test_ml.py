"""ML estimator/model tests, mirroring the reference's test strategy
(SURVEY §5): behavioral goldens, param system, persistence round-trips,
meta-algorithm integration. Single-node numpy GBT is the oracle (no
xgboost in this environment)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.linalg import Vectors

from pyspark_xgboost_spark.ml import booster as kernel
from pyspark_xgboost_spark.ml.estimator import (
    XgboostClassifier,
    XgboostClassifierModel,
    XgboostRegressor,
    XgboostRegressorModel,
)


@pytest.fixture(scope="module")
def reg_train(spark):
    return spark.createDataFrame(
        [
            (Vectors.dense(1.0, 2.0, 3.0), 0.0),
            (Vectors.sparse(3, {1: 1.0, 2: 5.5}), 1.0),
            (Vectors.dense(4.0, 5.0, 6.0), 2.0),
            (Vectors.sparse(3, {1: 6.0, 2: 7.5}), 3.0),
        ]
        * 25,
        ["features", "label"],
    )


@pytest.fixture(scope="module")
def cls_train(spark):
    return spark.createDataFrame(
        [
            (Vectors.dense(1.0, 2.0, 3.0), 0),
            (Vectors.sparse(3, {1: 1.0, 2: 5.5}), 1),
        ]
        * 50,
        ["features", "label"],
    )


def _chk_regressor_fit_transform_matches_local_kernel(spark, reg_train):
    """Spark fit must equal a direct kernel fit on the same rows
    (behavioral golden — the reference compares against single-node
    xgboost the same way, xgboost_local_test.py:329-334)."""
    params = dict(n_estimators=20, max_depth=3, learning_rate=0.3)
    model = XgboostRegressor(**params).fit(reg_train)
    out = model.transform(reg_train).collect()

    X = np.array([[1, 2, 3], [0, 1, 5.5], [4, 5, 6], [0, 6, 7.5]] * 25, dtype=np.float32)
    y = np.array([0, 1, 2, 3] * 25, dtype=float)
    direct = kernel.train(X, y, {**params, "objective": "reg:squarederror"})
    expected = dict(zip(y[:4], direct.predict(X[:4])))
    for r in out:
        assert abs(r.prediction - expected[r.label]) < 1e-3


def _chk_binary_classifier_outputs(spark, cls_train):
    model = XgboostClassifier(n_estimators=15, max_depth=3).fit(cls_train)
    rows = model.transform(cls_train).collect()
    assert np.mean([r.prediction == r.label for r in rows]) == 1.0
    for r in rows[:4]:
        probs = r.probability.toArray()
        assert len(probs) == 2 and abs(probs.sum() - 1.0) < 1e-9
        raw = r.rawPrediction.toArray()
        assert abs(raw[0] + raw[1]) < 1e-9  # ± margin stack
        assert r.prediction == float(np.argmax(probs))


def _chk_multiclass_classifier(spark):
    df = spark.createDataFrame(
        [
            (Vectors.dense(1.0, 2.0, 3.0), 0),
            (Vectors.dense(4.0, 5.0, 6.0), 1),
            (Vectors.sparse(3, {1: 1.0, 2: 5.5}), 2),
        ]
        * 40,
        ["features", "label"],
    )
    model = XgboostClassifier(n_estimators=10, max_depth=3).fit(df)
    assert model.numClasses == 3
    rows = model.transform(df).collect()
    assert np.mean([r.prediction == r.label for r in rows]) == 1.0
    assert len(rows[0].probability.toArray()) == 3


def _chk_label_validation(spark):
    bad = spark.createDataFrame(
        [(Vectors.dense(1.0), 1), (Vectors.dense(2.0), 3)] * 10, ["features", "label"]
    )
    with pytest.raises(Exception, match="contiguous"):
        XgboostClassifier(n_estimators=2).fit(bad)


def _chk_param_system(spark):
    est = XgboostRegressor(n_estimators=9, max_depth=4, unknown_thing="zz")
    assert est.getOrDefault(est.n_estimators) == 9
    assert est.getArbitraryParamsDict() == {"unknown_thing": "zz"}
    with pytest.raises(ValueError, match="gpu_id"):
        XgboostRegressor(gpu_id=0)
    # numpy scalar conversion (reference xgboost_core.py:763-772)
    est2 = XgboostRegressor(n_estimators=np.int64(11))
    v = est2.getOrDefault(est2.n_estimators)
    assert v == 11 and not isinstance(v, np.generic)
    # copy keeps params (CrossValidator requirement)
    c = est.copy()
    assert c.getOrDefault(c.n_estimators) == 9


def _chk_early_stopping_requires_validation_col(spark, reg_train):
    with pytest.raises(ValueError, match="validationIndicatorCol"):
        XgboostRegressor(n_estimators=50, early_stopping_rounds=5).fit(reg_train)


def _chk_model_persistence_roundtrip(spark, reg_train, tmp_path):
    model = XgboostRegressor(n_estimators=10, max_depth=3).fit(reg_train)
    path = str(tmp_path / "m")
    model.save(path)
    loaded = XgboostRegressorModel.load(path)
    a = [r.prediction for r in model.transform(reg_train).collect()]
    b = [r.prediction for r in loaded.transform(reg_train).collect()]
    assert a == b
    with pytest.raises(Exception):
        XgboostClassifierModel.load(path)


def _chk_estimator_persistence_roundtrip(spark, tmp_path):
    est = XgboostRegressor(n_estimators=6, max_depth=2, foo_kw=1.5)
    path = str(tmp_path / "e")
    est.save(path)
    loaded = XgboostRegressor.load(path)
    assert loaded.getOrDefault(loaded.n_estimators) == 6
    assert loaded.getArbitraryParamsDict() == {"foo_kw": 1.5}


def _chk_pipeline_integration(spark, cls_train, tmp_path):
    pipe = Pipeline(stages=[XgboostClassifier(n_estimators=8)])
    pm = pipe.fit(cls_train)
    path = str(tmp_path / "p")
    pm.save(path)
    loaded = PipelineModel.load(path)
    rows = loaded.transform(cls_train).collect()
    assert np.mean([r.prediction == r.label for r in rows]) == 1.0


def _chk_weights_shift_fit(spark):
    df = spark.createDataFrame(
        [
            (Vectors.dense(0.0), 0.0, 1.0),
            (Vectors.dense(0.0), 10.0, 100.0),
        ]
        * 30,
        ["features", "label", "w"],
    )
    model = XgboostRegressor(n_estimators=20, weightCol="w").fit(df)
    pred = model.transform(df).collect()[0].prediction
    assert pred > 8.0  # pulled toward the heavy label


def _chk_missing_zero_semantics(spark):
    """missing=0: sparse inactive entries treated as absent
    (reference caveat, xgboost_core.py:780-784)."""
    df = spark.createDataFrame(
        [
            (Vectors.sparse(2, {0: 1.0}), 0.0),
            (Vectors.dense(1.0, 2.0), 1.0),
        ]
        * 20,
        ["features", "label"],
    )
    m = XgboostRegressor(n_estimators=10, missing=0.0).fit(df)
    rows = m.transform(df).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, r.prediction)
    assert abs(by_label[0.0]) < 0.1 and abs(by_label[1.0] - 1.0) < 0.1


def _chk_validation_early_stopping(spark):
    rows = [
        (Vectors.dense(float(i % 10), float((i * 3) % 7)), float(i % 10) * 2.0, i % 5 == 0)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["features", "label", "isVal"])
    m = XgboostRegressor(
        n_estimators=300, max_depth=3, early_stopping_rounds=8, validationIndicatorCol="isVal"
    ).fit(df)
    b = m.get_booster()
    assert len(b.trees) < 300
    assert b.best_score is not None and b.best_score < 1.5


def _chk_feature_importances(spark, reg_train):
    model = XgboostRegressor(n_estimators=10).fit(reg_train)
    imp = model.get_feature_importances()
    assert imp and all(v > 0 for v in imp.values())


def _chk_crossvalidator_integration(spark, cls_train):
    """Meta-algorithm compatibility (reference xgboost_local_test.py:
    466-476): the estimator must survive ParamGridBuilder copy()
    semantics and CrossValidator's fit loop."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    est = XgboostClassifier(n_estimators=5, max_depth=2)
    grid = (
        ParamGridBuilder()
        .addGrid(est.n_estimators, [3, 5])
        .addGrid(est.max_depth, [2, 3])
        .build()
    )
    cv = CrossValidator(
        estimator=est,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(),
        numFolds=2,
        seed=42,
        parallelism=2,
    )
    cv_model = cv.fit(cls_train)
    assert len(cv_model.avgMetrics) == 4
    assert max(cv_model.avgMetrics) > 0.9  # separable fixture
    out = cv_model.bestModel.transform(cls_train)
    assert out.filter("prediction != label").count() == 0


def _chk_external_storage_parity(spark, reg_train):
    """Out-of-core training (memmap-spilled binned codes, reference O10
    xgboost data.py:45-92) must match in-memory training up to the
    significant-digit narrowing (reference external-storage parity test,
    xgboost_cluster_test.py:118-125)."""
    in_mem = XgboostRegressor(n_estimators=10, max_depth=3).fit(reg_train)
    ext = XgboostRegressor(
        n_estimators=10, max_depth=3, use_external_storage=True
    ).fit(reg_train)
    a = np.array([r.prediction for r in in_mem.transform(reg_train).collect()])
    b = np.array([r.prediction for r in ext.transform(reg_train).collect()])
    assert np.allclose(a, b, atol=1e-3)


def _chk_external_storage_rejects_weight(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(Vectors.dense(1.0, 2.0), 1.0)] * 10, ["features", "label"]
    ).withColumn("w", F.lit(2.0))
    with pytest.raises(ValueError, match="external_storage"):
        XgboostRegressor(use_external_storage=True, weightCol="w").fit(df)


def test_best_splits_masks_padded_bins():
    """Histogram slots are padded to the widest feature's cut count;
    with min_child_weight=0 a padded (zero-filled) slot plus a heavy
    missing bucket can win the argmax as an unrealizable 'split'
    (all real rows one side, missing the other, at a threshold the
    feature doesn't have). _best_splits must mask b >= len(edges[f])
    to -inf so the chosen split is always a real cut (round-1 advice)."""
    from pyspark_xgboost_spark.ml.booster import _best_splits

    nbp1 = 5  # 4 real bin slots + missing bucket
    hist_g = np.zeros((1, 2, nbp1))
    hist_h = np.zeros((1, 2, nbp1))
    # feature 0: 3 real cuts, a modest valid split at b=0
    hist_g[0, 0, :4] = [-4.0, 1.0, 1.0, 1.0]
    hist_h[0, 0, :4] = [1.0, 1.0, 1.0, 1.0]
    hist_h[0, 0, -1] = 0.5
    # feature 1: ONE real cut (slots 2,3 are padding) + missing mass
    hist_g[0, 1, :2] = [-4.0, -3.0]
    hist_h[0, 1, :2] = [1.0, 3.0]
    hist_g[0, 1, -1] = 6.0
    hist_h[0, 1, -1] = 0.5

    edge_counts = [3, 1]
    # unmasked argmax picks the unrealizable slot — the bug scenario
    _, f0, b0, *_ = _best_splits(hist_g, hist_h, 1.0, 0.0, 0.0, None)
    assert b0[0] >= edge_counts[f0[0]]
    # masked: a realizable split, still finite positive gain
    g1, f1, b1, *_ = _best_splits(hist_g, hist_h, 1.0, 0.0, 0.0, edge_counts)
    assert np.isfinite(g1[0]) and g1[0] > 0
    assert b1[0] < edge_counts[f1[0]]


def _chk_train_with_initial_model(spark, reg_train, tmp_path):
    """Training continuation (reference xgb_model param; save/load with
    init booster, model.py:111-128; test_train_with_initial_model,
    xgboost_local_test.py:502-517): continue from a fitted booster,
    round-trip the estimator through save/load, and refit identically."""
    path = str(tmp_path / "reg2")
    reg1 = XgboostRegressor(n_estimators=5, max_depth=3)
    init_booster = reg1.fit(reg_train).get_booster()

    reg2 = XgboostRegressor(max_depth=2, n_estimators=2, xgb_model=init_booster)
    model21 = reg2.fit(reg_train)
    # continued booster carries old + new trees
    assert len(model21.get_booster().trees) == len(init_booster.trees) + 2
    pred21 = [r.prediction for r in model21.transform(reg_train).collect()]

    reg2.save(path)
    reg2b = XgboostRegressor.load(path)
    assert reg2b.getOrDefault(reg2b.xgb_model) is not None
    model22 = reg2b.fit(reg_train)
    pred22 = [r.prediction for r in model22.transform(reg_train).collect()]
    np.testing.assert_allclose(pred21, pred22, atol=1e-12)


def _chk_continuation_matches_straight_run(spark, reg_train):
    """5 rounds + 5 continued rounds on the same data must equal one
    10-round run exactly: bin edges recompute identically and the margin
    trajectory is the same, so rounds 6-10 grow the same trees."""
    base = XgboostRegressor(n_estimators=10, max_depth=3).fit(reg_train)
    first = XgboostRegressor(n_estimators=5, max_depth=3).fit(reg_train)
    cont = XgboostRegressor(
        n_estimators=5, max_depth=3, xgb_model=first.get_booster()
    ).fit(reg_train)
    a = [r.prediction for r in base.transform(reg_train).collect()]
    b = [r.prediction for r in cont.transform(reg_train).collect()]
    np.testing.assert_allclose(a, b, atol=1e-12)


def _chk_callbacks(spark, reg_train, tmp_path):
    """Callbacks persistence (reference test_callbacks,
    xgboost_local_test.py:478-500): cloudpickled into estimator
    metadata, restored on load, and actually applied during fit."""
    from pyspark_xgboost_spark.ml.booster import LearningRateScheduler

    path = str(tmp_path / "cb_est")

    def custom_learning_rate(boosting_round):
        return 1.0 / (boosting_round + 1)

    cb = [LearningRateScheduler(custom_learning_rate)]
    regressor = XgboostRegressor(n_estimators=5, max_depth=3, callbacks=cb)
    regressor.save(path)
    loaded = XgboostRegressor.load(path)
    assert loaded.getOrDefault(loaded.callbacks) is not None

    model_direct = regressor.fit(reg_train)
    model_loaded = loaded.fit(reg_train)
    a = [r.prediction for r in model_direct.transform(reg_train).collect()]
    b = [r.prediction for r in model_loaded.transform(reg_train).collect()]
    np.testing.assert_allclose(a, b, atol=1e-12)

    # the schedule really changes training vs the default constant lr
    plain = XgboostRegressor(n_estimators=5, max_depth=3).fit(reg_train)
    c = [r.prediction for r in plain.transform(reg_train).collect()]
    assert not np.allclose(a, c)


def _chk_callback_early_stop(spark, reg_train):
    """after_iteration returning True stops training (TrainingCallback
    protocol)."""
    from pyspark_xgboost_spark.ml.booster import TrainingCallback

    class StopAfter(TrainingCallback):
        def __init__(self, n):
            self.n = n

        def after_iteration(self, rnd, score):
            return rnd + 1 >= self.n

    model = XgboostRegressor(
        n_estimators=50, max_depth=3, callbacks=[StopAfter(3)]
    ).fit(reg_train)
    assert len(model.get_booster().trees) == 3


def test_callback_sees_score_without_early_stopping():
    """With an eval_set, after_iteration must receive the eval metric
    even when early_stopping_rounds is 0 (TrainingCallback contract:
    score is None only without an eval set)."""
    from pyspark_xgboost_spark.ml.booster import TrainingCallback, train

    rng = np.random.RandomState(7)
    X = rng.rand(200, 3).astype(np.float32)
    y = X @ np.array([1.0, -2.0, 0.5]) + 0.1 * rng.rand(200)
    seen = []

    class Recorder(TrainingCallback):
        def after_iteration(self, rnd, score):
            seen.append(score)
            return False

    train(
        X, y, {"n_estimators": 3, "max_depth": 2},
        eval_set=(X[:50], y[:50]), callbacks=[Recorder()],
    )
    assert len(seen) == 3 and all(s is not None for s in seen)

    seen.clear()
    train(X, y, {"n_estimators": 2, "max_depth": 2}, callbacks=[Recorder()])
    assert seen == [None, None]  # no eval set → no score


def test_best_iteration_offset_under_continuation():
    """Continuing with xgb_model: best_iteration counts TOTAL rounds
    (xgboost semantics), so it can index the combined booster's trees."""
    from pyspark_xgboost_spark.ml.booster import train

    rng = np.random.RandomState(11)
    X = rng.rand(300, 3).astype(np.float32)
    y = X @ np.array([1.0, -2.0, 0.5]) + 0.05 * rng.rand(300)
    init = train(X, y, {"n_estimators": 4, "max_depth": 2})
    cont = train(
        X, y,
        {"n_estimators": 6, "max_depth": 2, "early_stopping_rounds": 50},
        eval_set=(X[:60], y[:60]),
        xgb_model=init,
    )
    assert cont.best_iteration is not None
    assert cont.best_iteration >= 4  # offset by the init model's rounds
    assert cont.best_iteration < len(cont.trees)


def test_continuation_num_class_mismatch_raises():
    """Multi-class xgb_model + single-output params (and vice versa)
    must raise at validation, not crash later in raw_margin reshape."""
    from pyspark_xgboost_spark.ml.booster import train

    rng = np.random.RandomState(3)
    X = rng.rand(120, 3).astype(np.float32)
    y3 = (rng.rand(120) * 3).astype(np.int64).astype(np.float64)
    multi = train(
        X, y3, {"objective": "multi:softprob", "num_class": 3, "n_estimators": 2}
    )
    # same objective string but a different class count
    with pytest.raises(ValueError, match="num_class"):
        train(
            X, y3,
            {"objective": "multi:softprob", "num_class": 4, "n_estimators": 2},
            xgb_model=multi,
        )
    # multi-class init model into default regression params: the
    # objective check fires first and names the mismatch
    with pytest.raises(ValueError, match="objective|num_class"):
        train(X, y3, {"n_estimators": 2}, xgb_model=multi)


def _chk_xgb_model_rejects_wrong_type(spark, reg_train):
    with pytest.raises(ValueError, match="xgb_model"):
        XgboostRegressor(xgb_model="not-a-booster").fit(reg_train)


def _chk_num_workers_param(spark):
    """Reference test_num_workers_param (xgboost_local_test.py:617-621)."""
    regressor = XgboostRegressor(num_workers=-1)
    with pytest.raises(ValueError):
        regressor._validate_params()
    classifier = XgboostClassifier(num_workers=0)
    with pytest.raises(ValueError):
        classifier._validate_params()


def _chk_use_gpu_param(spark):
    """Reference test_use_gpu_param (xgboost_local_test.py:622-630):
    tree_method must be gpu_hist/None with use_gpu, and a cluster
    without task GPU resources must raise at validation, not warn."""
    classifier = XgboostClassifier(use_gpu=True, tree_method="exact")
    with pytest.raises(ValueError, match="tree_method"):
        classifier._validate_params()
    regressor = XgboostRegressor(use_gpu=True, tree_method="exact")
    with pytest.raises(ValueError, match="tree_method"):
        regressor._validate_params()
    # valid tree_method, but this local session schedules no task GPUs
    for est in (
        XgboostRegressor(use_gpu=True, tree_method="gpu_hist"),
        XgboostRegressor(use_gpu=True),
        XgboostClassifier(use_gpu=True, tree_method="gpu_hist"),
        XgboostClassifier(use_gpu=True),
    ):
        with pytest.raises(RuntimeError, match="GPU"):
            est._validate_params()


def _chk_quantile_and_mae_objectives_reach_kernel(spark):
    """The reference forwarded user objectives verbatim (O19 kwargs
    passthrough) — reg:quantileerror / reg:absoluteerror must flow
    through XgboostRegressor into the kernel, and the fitted quantile
    models must show the pinball signature: empirical coverage tracks
    alpha and higher alpha dominates lower."""
    import numpy as np
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.ml.estimator import XgboostRegressor
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    )
    assembled = VectorAssembler(
        inputCols=["l_discount", "l_tax"], outputCol="features"
    ).transform(li.withColumn("label", F.col("l_quantity")))
    med = float(np.median([r["label"] for r in assembled.select("label").collect()]))

    preds = {}
    for a in (0.2, 0.8):
        model = XgboostRegressor(
            objective="reg:quantileerror",
            quantile_alpha=a,
            n_estimators=200,
            max_depth=3,
            learning_rate=0.3,
            base_score=med,
        ).fit(assembled)
        rows = model.transform(assembled).select("label", "prediction").collect()
        cov = sum(r["label"] <= r["prediction"] for r in rows) / len(rows)
        preds[a] = (cov, sum(r["prediction"] for r in rows) / len(rows))
        assert abs(cov - a) < 0.12, (a, cov)
    assert preds[0.8][1] > preds[0.2][1]  # upper quantile dominates

    mae_model = XgboostRegressor(
        objective="reg:absoluteerror",
        n_estimators=60,
        max_depth=3,
        learning_rate=0.3,
        base_score=med,
    ).fit(assembled)
    rows = mae_model.transform(assembled).select("label", "prediction").collect()
    mae = sum(abs(r["label"] - r["prediction"]) for r in rows) / len(rows)
    # MAE fit must beat the trivial constant-median predictor
    base = sum(abs(r["label"] - med) for r in rows) / len(rows)
    assert mae <= base + 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError, match="reg:\\* objective"):
        XgboostRegressor(objective="binary:logistic", n_estimators=2).fit(assembled)


def _chk_flagship_fit_memoized(spark):
    """A second consumer of the flagship fit must NOT retrain: the
    four ml_* headline queries share two fits via _FIT_CACHE (round-9
    verdict: retraining per consumer was ~8% of the whole bench)."""
    from pyspark_xgboost_spark.ml import flagship

    sf_dir = "/root/testdata/sf0.001"
    m1, a1 = flagship.fit_regressor(spark, sf_dir)
    m2, a2 = flagship.fit_regressor(spark, sf_dir)
    assert m1 is m2 and a1 is a2  # cache hit, no second training run
    c1, _ = flagship.fit_classifier(spark, sf_dir)
    c2, _ = flagship.fit_classifier(spark, sf_dir)
    assert c1 is c2
    # distinct kinds distinct entries
    assert m1 is not c1


def _chk_arrow_feed_ragged_vectors_raise(spark):
    """Ragged feature vectors fail the offsets-based dimension check with
    the same ValueError text, through a fit and straight from the feed
    (RecordBatches and the pandas entry alike)."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.ml.data import batches_to_matrices

    df = spark.createDataFrame(
        [([1.0, 2.0], 0.0), ([1.0, 2.0, 3.0], 1.0)] * 5, ["features", "label"]
    )
    with pytest.raises(Exception, match="inconsistent dimensions"):
        XgboostRegressor(n_estimators=1).fit(df)
    batches = (
        df.select(F.col("features").cast("array<float>").alias("values"), "label")
        .toArrow()
        .to_batches(max_chunksize=3)
    )
    for feed in (batches, [b.to_pandas() for b in batches]):
        with pytest.raises(ValueError, match=r"inconsistent dimensions: \[2, 3\]"):
            batches_to_matrices(iter(feed))


def _chk_arrow_feed_empty_partitions(spark):
    """Empty partitions yield no row: a single-worker fit of an input
    that is empty at run time fails after the job, and an all-empty
    distributed gang fails in the tasks, each with today's message."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.ml.data import batches_to_matrices

    df = spark.createDataFrame([(Vectors.dense(1.0, 2.0), 1.0)] * 20, ["features", "label"])
    # a filter the optimizer cannot prove empty, so tasks really run
    empty = df.filter(F.col("label") < F.rand(seed=1) - 2.0)
    with pytest.raises(ValueError, match="cannot fit on an empty dataset"):
        XgboostRegressor(n_estimators=1).fit(empty)
    with pytest.raises(Exception, match="all partitions are empty"):
        XgboostRegressor(n_estimators=1, num_workers=2).fit(empty)
    zero = pa.RecordBatch.from_pydict(
        {"values": pa.array([], pa.list_(pa.float32())), "label": pa.array([], pa.float64())}
    )
    train_b, val_b = batches_to_matrices(iter([zero, zero]), has_validation=True)
    assert train_b.X.shape == (0, 0) and len(train_b.y) == 0
    assert val_b.X.shape == (0, 0)


def _chk_arrow_feed_weight_and_validation_split(spark):
    """The Arrow feed's weight and validationIndicator split equals the
    per-row construction of the pandas feed it replaced, over several
    batches and through the pandas entry."""
    from pyspark_xgboost_spark.ml.data import batches_to_matrices

    rows = [
        (Vectors.dense(float(i), float(i % 3) / 3), float(i % 5), 1.0 + i % 4, i % 3 == 0)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["features", "label", "w", "isVal"])
    est = XgboostRegressor(weightCol="w", validationIndicatorCol="isVal")
    narrowed, flags = est._select_training_columns(df)
    batches = narrowed.toArrow().to_batches(max_chunksize=7)
    assert len(batches) > 1
    pdf = narrowed.toPandas()
    mask = pdf["validationIndicator"].to_numpy(dtype=bool)
    for feed in (batches, [b.to_pandas() for b in batches]):
        train_b, val_b = batches_to_matrices(iter(feed), **flags)
        for b, sel in ((train_b, ~mask), (val_b, mask)):
            want_X = np.stack([np.asarray(v, dtype=np.float32) for v in pdf["values"][sel]])
            np.testing.assert_array_equal(b.X, want_X)
            assert b.X.dtype == np.float32
            np.testing.assert_array_equal(b.y, pdf["label"].to_numpy(np.float64)[sel])
            np.testing.assert_array_equal(b.w, pdf["weight"].to_numpy(np.float64)[sel])
            assert b.base_margin is None


# ---------------------------------------------------------------------------
# Kernel internals — no Spark session
# ---------------------------------------------------------------------------


def _direct_histograms(codes, g, h, node, n_nodes, nbp1):
    """(2, n_nodes, f, nbp1) grad/hess sums accumulated row by row."""
    hist = np.zeros((2, n_nodes, codes.shape[0], nbp1))
    for j in range(codes.shape[0]):
        np.add.at(hist[0, :, j], (node, codes[j]), g)
        np.add.at(hist[1, :, j], (node, codes[j]), h)
    return hist


@pytest.mark.parametrize(
    "objective,atol",
    [("reg:squarederror", 0.0), ("binary:logistic", 1e-9), ("multi:softprob", 1e-9)],
)
def test_sibling_histograms_match_direct_build(objective, atol):
    """Histograms derived as parent − built-sibling equal a direct
    build of every child: exactly for squared error (dyadic gradients,
    unit hessians), to 1e-9 for the logistic and softmax objectives."""
    rng = np.random.default_rng(5)
    n, f, nbp1, n_pairs = 3000, 3, 9, 4
    codes = rng.integers(0, nbp1, size=(f, n)).astype(np.uint16)
    child = rng.integers(0, 2 * n_pairs, size=n)
    if objective == "multi:softprob":
        obj = kernel._Objective(objective, 3)
        g, h = obj.grad_hess(rng.normal(size=(n, 3)), rng.integers(0, 3, n).astype(float))
        g, h = np.ascontiguousarray(g[:, 1]), np.ascontiguousarray(h[:, 1])
    elif objective == "binary:logistic":
        obj = kernel._Objective(objective, 0)
        g, h = obj.grad_hess(rng.normal(size=n), rng.integers(0, 2, n).astype(float))
    else:
        obj = kernel._Objective(objective, 0)
        g, h = obj.grad_hess(np.full(n, 0.5), rng.integers(0, 50, n).astype(float))
    parent = _direct_histograms(codes, g, h, child // 2, n_pairs, nbp1)
    want = _direct_histograms(codes, g, h, child, 2 * n_pairs, nbp1)
    child_H = want[1, :, 0].sum(axis=1)
    got = kernel._child_histograms(codes, g, h, child, parent, child_H, kernel.LocalComm())
    if atol == 0.0:
        np.testing.assert_array_equal(got, want)
    else:
        np.testing.assert_allclose(got, want, rtol=0, atol=atol)


def test_train_allreduces_once_per_level_built_children_only():
    """One allreduce_sum per tree level (the rank lock-step), carrying
    the root and then only one child of each split: half the nodes of
    every level below the root."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(3000, 4)).astype(np.float32)
    y = X @ np.array([1.0, -2.0, 0.5, 3.0]) + rng.normal(size=3000)
    sent = []

    class Recorder(kernel.LocalComm):
        def allreduce_sum(self, arr):
            sent.append(arr.shape)
            return arr

    depth = 4
    bst = kernel.train(X, y, dict(n_estimators=3, max_depth=depth, max_bin=16), comm=Recorder())
    expected, all_nodes = [], 0
    for t in bst.trees:
        level = [0]
        expected.append(1)
        for _ in range(1, depth):
            level = [c for i in level if t.feature[i] >= 0 for c in (t.left[i], t.right[i])]
            if not level:
                break
            expected.append(len(level) // 2)
            all_nodes += len(level)
    assert len(sent) == len(bst.trees) * depth  # fully grown: one round per level
    assert [s[1] for s in sent] == expected
    assert all(s[0] == 2 and s[2] == 4 for s in sent)
    assert sum(expected) - len(bst.trees) == all_nodes // 2


def _random_tree(rng, n_features, depth):
    """A random tree; child ids are sometimes allocated right first, so
    nothing may assume ``right == left + 1``."""
    t = kernel._Tree()

    def grow(node, d):
        if d == depth or rng.random() < 0.2:
            t.value[node] = float(rng.normal())
            return
        t.feature[node] = int(rng.integers(n_features))
        t.threshold[node] = float(rng.normal())
        t.default_left[node] = bool(rng.random() < 0.5)
        a, b = t.add_node(), t.add_node()
        if rng.random() < 0.5:
            a, b = b, a
        t.left[node], t.right[node] = a, b
        grow(a, d + 1)
        grow(b, d + 1)

    grow(t.add_node(), 0)
    return t


def _walk_row(t, x, missing):
    i = 0
    while t.feature[i] >= 0:
        v = float(x[t.feature[i]])
        if np.isnan(v) or v == missing:
            i = t.left[i] if t.default_left[i] else t.right[i]
        else:
            i = t.left[i] if v < t.threshold[i] else t.right[i]
    return t.value[i]


@pytest.mark.parametrize("missing", [float("nan"), 0.0])
def test_level_synchronous_predict_matches_row_traversal(missing):
    """The compiled level-by-level walk lands every row on the leaf a
    per-row traversal reaches, NaN and the ``missing`` value following
    the default direction; the Booster maps ``missing`` once for all
    trees."""
    rng = np.random.default_rng(11)
    X = rng.normal(size=(400, 5)).astype(np.float32)
    X[rng.random(X.shape) < 0.1] = np.nan
    X[rng.random(X.shape) < 0.1] = 0.0
    trees = [_random_tree(rng, 5, depth=int(rng.integers(0, 6))) for _ in range(12)]
    want = [np.array([_walk_row(t, x, missing) for x in X]) for t in trees]
    for t, w in zip(trees, want):
        np.testing.assert_array_equal(t.predict_margin(X, missing), w)
    bst = kernel.Booster(trees, "reg:squarederror", 0, 0.0, missing)
    np.testing.assert_allclose(bst.predict(X), np.sum(want, axis=0), rtol=0, atol=1e-12)


@pytest.mark.parametrize("objective", ["reg:squarederror", "multi:softprob"])
def test_two_rank_loopback_training_matches_local(objective):
    """Shards trained over a 2-rank loopback ``build_tree_comm`` give the
    single-process booster within 1e-9 on every rank."""
    import threading

    from pyspark_xgboost_spark.ml.comm import build_tree_comm

    rng = np.random.default_rng(2)
    X = rng.normal(size=(4000, 4)).astype(np.float32)
    X[rng.random(X.shape) < 0.05] = np.nan
    score = np.nan_to_num(X) @ np.array([1.0, -1.0, 2.0, 0.5])
    if objective == "multi:softprob":
        y = np.digitize(score, [-1.0, 1.0]).astype(float)
        params = dict(objective=objective, num_class=3, n_estimators=5, max_depth=4)
    else:
        y = score + rng.normal(size=len(X))
        params = dict(objective=objective, n_estimators=8, max_depth=4)
    local = kernel.train(X, y, params)
    shards = [slice(0, 1500), slice(1500, None)]
    out, errors = {}, []

    def rank(r):
        try:
            comm = build_tree_comm(
                r, 2, ["127.0.0.1"] * 2, f"kernel-parity-{objective}", 2, deadline_s=30
            )
            out[r] = kernel.train(X[shards[r]], y[shards[r]], params, comm=comm)
            comm.close()
        except Exception as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    peer = threading.Thread(target=rank, args=(1,))
    peer.start()
    rank(0)
    peer.join(timeout=60)
    assert not peer.is_alive() and not errors, errors
    want = local.predict(X)
    for r in (0, 1):
        np.testing.assert_allclose(out[r].predict(X), want, rtol=0, atol=1e-9)


def test_bin_edge_sample_spans_whole_shard():
    """Above ``sample_rows`` the bin-edge sample is evenly spaced over
    the whole shard: a feature sorted ascending over 1.5x the sample
    size gets cuts spanning its full range, not just the first rows."""
    X = np.arange(1500, dtype=np.float32)[:, None]
    (cuts,) = kernel.compute_bin_edges(X, max_bin=16, sample_rows=1000)
    assert cuts[0] < 150 and cuts[-1] > 1350


# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11):
# every Spark-backed ML behavioral test fans out over the shared
# session in one case — fits are independent jobs the scheduler
# interleaves; tmp_path users get their own mkdtemp dirs.
def test_ml_contracts_pooled(spark, reg_train, cls_train):
    import tempfile
    from pathlib import Path

    from tests.conftest import run_pooled

    frames = {'reg_train': reg_train, 'cls_train': cls_train}
    checks = []
    for fn, extra in [
        (_chk_regressor_fit_transform_matches_local_kernel, ['reg_train']),
        (_chk_binary_classifier_outputs, ['cls_train']),
        (_chk_multiclass_classifier, []),
        (_chk_label_validation, []),
        (_chk_param_system, []),
        (_chk_early_stopping_requires_validation_col, ['reg_train']),
        (_chk_model_persistence_roundtrip, ['reg_train', 'tmp_path']),
        (_chk_estimator_persistence_roundtrip, ['tmp_path']),
        (_chk_pipeline_integration, ['cls_train', 'tmp_path']),
        (_chk_weights_shift_fit, []),
        (_chk_missing_zero_semantics, []),
        (_chk_validation_early_stopping, []),
        (_chk_feature_importances, ['reg_train']),
        (_chk_crossvalidator_integration, ['cls_train']),
        (_chk_external_storage_parity, ['reg_train']),
        (_chk_external_storage_rejects_weight, []),
        (_chk_train_with_initial_model, ['reg_train', 'tmp_path']),
        (_chk_continuation_matches_straight_run, ['reg_train']),
        (_chk_callbacks, ['reg_train', 'tmp_path']),
        (_chk_callback_early_stop, ['reg_train']),
        (_chk_xgb_model_rejects_wrong_type, ['reg_train']),
        (_chk_num_workers_param, []),
        (_chk_use_gpu_param, []),
        (_chk_quantile_and_mae_objectives_reach_kernel, []),
        (_chk_flagship_fit_memoized, []),
        (_chk_arrow_feed_ragged_vectors_raise, []),
        (_chk_arrow_feed_empty_partitions, []),
        (_chk_arrow_feed_weight_and_validation_split, []),
    ]:
        def wrap(s, fn=fn, extra=extra):
            args = [
                Path(tempfile.mkdtemp(prefix='mlpool_'))
                if a == 'tmp_path' else frames[a]
                for a in extra
            ]
            fn(s, *args)
        wrap.__name__ = fn.__name__
        checks.append(wrap)
    run_pooled(spark, checks, workers=8)
