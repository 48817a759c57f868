"""Forecasters: shape contracts, semantics vs hand-rolled numpy, and
backtest/conformal plumbing (mirrors reference tests/test_forecasting.py)."""

import importlib.util

import numpy as np
import pytest
from pyspark.sql import functions as F
import os

# scan/exchange pins below encode CLASSIC-session lineage shapes
# (localCheckpoint cuts); the Spark-Connect table fallback re-enters
# every materialized frame as a parquet scan (one per consumer), so
# the counts legitimately differ there. The fallback's correctness is
# pinned by the dedicated equivalence tests in test_pipeline.py.
requires_local_checkpoint = pytest.mark.skipif(
    os.environ.get("FUNCTIME_SPARK_NO_LOCAL_CHECKPOINT", "") == "1",
    reason="plan pin valid only for localCheckpoint lineage shapes",
)



def _pdf(df, cols=("user_id", "ts")):
    return df.toPandas().sort_values(list(cols)).reset_index(drop=True)


def test_naive(events, events_pdf):
    from functime_spark.forecasting.naive import naive

    fc = naive(freq="1h").fit(events)
    pred = _pdf(fc.predict(3))
    n_entities = events_pdf["user_id"].nunique()
    assert len(pred) == 3 * n_entities
    lasts = events_pdf.sort_values("ts").groupby("user_id")["value"].last()
    for uid, grp in pred.groupby("user_id"):
        assert (grp["value"] == lasts[uid]).all()


def test_snaive(events, events_pdf):
    from functime_spark.forecasting.naive import snaive

    sp = 4
    fc = snaive(freq="1h", sp=sp).fit(events)
    pred = _pdf(fc.predict(6))
    tails = events_pdf.sort_values("ts").groupby("user_id")["value"].apply(
        lambda s: s.iloc[-sp:].to_list()
    )
    for uid, grp in pred.groupby("user_id"):
        want = [tails[uid][i % sp] for i in range(6)]
        np.testing.assert_allclose(grp["value"].to_numpy(), want)


def test_theta_vs_numpy(events, events_pdf):
    """theta (r9): per-entity forecasts match a hand-rolled numpy
    Theta — OLS trend on the 0-based index, SES RECURSION (the closed
    form in the operator must equal the literal recursion) on
    z = 2y - trend, equal-weight combination."""
    from functime_spark.forecasting.theta import theta

    alpha, fh = 0.3, 4
    fc = theta(freq="1h", alpha=alpha).fit(events)
    pred = _pdf(fc.predict(fh))
    for uid, grp in events_pdf.sort_values("ts").groupby("user_id"):
        yv = grp["value"].to_numpy(dtype=float)
        n = len(yv)
        t = np.arange(n, dtype=float)
        b = (
            (n * (t * yv).sum() - t.sum() * yv.sum())
            / (n * (t * t).sum() - t.sum() ** 2)
            if n > 1
            else 0.0
        )
        a = (yv.sum() - b * t.sum()) / n
        z = 2.0 * yv - (a + b * t)
        lvl = z[0]
        for v in z[1:]:  # literal SES recursion, l_1 = z_1
            lvl = alpha * v + (1.0 - alpha) * lvl
        want = [
            0.5 * (a + b * (n - 1 + h)) + 0.5 * lvl
            for h in range(1, fh + 1)
        ]
        got = pred[pred["user_id"] == uid].sort_values("ts")["value"].to_numpy()
        np.testing.assert_allclose(got, want, rtol=1e-9)

    with pytest.raises(ValueError, match="alpha"):
        theta(freq="1h", alpha=1.0)

    # composes with the base-class machinery: backtest splits and
    # ENBPI conformal intervals work unchanged
    bt = theta(freq="1h").backtest(events, test_size=3, n_splits=2)
    assert bt.count() > 0 and "split" in bt.columns
    ci = theta(freq="1h").conformalize(
        events, fh=2, alphas=[0.2, 0.8], n_splits=2
    )
    cp = ci.toPandas()
    assert set(cp["quantile"].unique()) == {20, 80}


def test_future_ranges_calendar(spark):
    from functime_spark.forecasting.ranges import make_future_ranges

    cutoffs = spark.createDataFrame(
        [("a", "2024-01-31")], "entity string, low string"
    ).select("entity", F.col("low").cast("timestamp"))
    out = make_future_ranges(cutoffs, 3, "1mo", "t").collect()[0]["t"]
    assert [str(t.date()) for t in out] == ["2024-02-29", "2024-03-31", "2024-04-30"]


def test_future_ranges_integer(spark):
    from functime_spark.forecasting.ranges import make_future_ranges

    cutoffs = spark.createDataFrame([("a", 10)], "entity string, low long")
    out = make_future_ranges(cutoffs, 4, "1i", "t").collect()[0]["t"]
    assert out == [11, 12, 13, 14]


def test_linear_model_recovers_ar_process(spark):
    """A pure AR(2) process must be forecast near-exactly."""
    from functime_spark.forecasting.linear import linear_model

    rng = np.random.default_rng(0)
    rows = []
    for ent in ["a", "b"]:
        x = [1.0, 2.0]
        for t in range(200):
            x.append(0.6 * x[-1] + 0.3 * x[-2] + 0.01)
        for t, v in enumerate(x):
            rows.append((ent, t, float(v)))
    y = spark.createDataFrame(rows, "entity string, time long, value double")
    fc = linear_model(freq="1i", lags=2).fit(y)
    coef, b = fc.state["recursive_model"]
    np.testing.assert_allclose(coef, [0.6, 0.3], atol=1e-6)
    pred = fc.predict(3).toPandas().sort_values(["entity", "time"])
    # continue the recursion by hand for entity a
    xa = [r[2] for r in rows if r[0] == "a"]
    want = []
    buf = xa[:]
    for _ in range(3):
        nxt = 0.6 * buf[-1] + 0.3 * buf[-2] + 0.01
        want.append(nxt)
        buf.append(nxt)
    got = pred[pred.entity == "a"]["value"].to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-6)


def test_linear_strategies(events):
    from functime_spark.forecasting.linear import linear_model

    for strategy in ("direct", "ensemble"):
        fc = linear_model(freq="1h", lags=4, strategy=strategy, max_horizons=3).fit(events)
        pred = fc.predict(3)
        assert pred.count() == 3 * events.select("user_id").distinct().count()


def test_backtest_and_conformal(events):
    from functime_spark.forecasting.naive import naive

    fc = naive(freq="1h")
    bt = fc.backtest(events, test_size=2, n_splits=2)
    assert set(bt.columns) == {"user_id", "ts", "value", "split"}
    assert bt.select("split").distinct().count() == 2

    ci = naive(freq="1h").conformalize(events, fh=2, alphas=[0.1, 0.9], n_splits=2)
    pdf = ci.toPandas()
    # one row per alpha, labeled alpha*100 (ref conformal.py:70-72)
    assert set(pdf["quantile"].unique()) == {10, 90}
    lo = pdf[pdf["quantile"] == 10].sort_values(["user_id", "ts"])["value"].to_numpy()
    hi = pdf[pdf["quantile"] == 90].sort_values(["user_id", "ts"])["value"].to_numpy()
    assert (lo <= hi).all()


def test_conformal_biased_forecaster_interval_side(spark):
    """Naive on a strictly-trending series: residuals (actual - pred)
    are all positive, so BOTH conformal bounds must sit above the
    point forecast. A sign-flipped residual (pred - actual) would
    mirror the interval below it — the bug flagged in round-1 advice."""
    from datetime import datetime, timedelta

    from functime_spark.forecasting.naive import naive

    t0 = datetime(2024, 1, 1)
    rows = [("a", t0 + timedelta(hours=i), float(i)) for i in range(20)]
    y = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    fc = naive(freq="1h")
    ci = fc.conformalize(y, fh=2, alphas=[0.1, 0.9], test_size=2, n_splits=2)
    pdf = ci.toPandas()
    point = fc.fit(y).predict(2).toPandas().rename(columns={"value": "pred"})
    merged = pdf.merge(point, on=["user_id", "ts"], how="inner")
    assert len(merged) > 0
    # slope-1 series: every backtest residual >= 1 > 0
    assert (merged["value"] > merged["pred"]).all()


def test_metrics(spark):
    from functime_spark.operators import metrics as M

    y_true = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)],
        "entity string, time int, value double",
    )
    y_pred = spark.createDataFrame(
        [("a", 1, 12.0), ("a", 2, 18.0), ("b", 1, 5.0)],
        "entity string, time int, value double",
    )
    mae = {r["entity"]: r["mae"] for r in M.mae(y_true, y_pred).collect()}
    assert mae == {"a": 2.0, "b": 0.0}
    smape = {r["entity"]: r["smape"] for r in M.smape(y_true, y_pred).collect()}
    assert smape["a"] == pytest.approx(4.0 / 60.0)
    rmse = {r["entity"]: r["rmse"] for r in M.rmse(y_true, y_pred).collect()}
    assert rmse["a"] == pytest.approx(2.0)
    scores = M.score_forecast(y_true, y_pred, y_true)
    assert set(scores.columns) == {
        "entity", "mae", "mase", "mse", "overforecast", "rmse", "rmsse", "smape", "underforecast",
    }


def test_cv_splits(events, events_pdf):
    from functime_spark.operators.cross_validation import (
        expanding_window_split,
        sliding_window_split,
        train_test_split,
    )

    train, test = train_test_split(events, test_size=5)
    counts = test.groupBy("user_id").count().collect()
    assert all(r["count"] == 5 for r in counts)
    assert train.count() + test.count() == len(events_pdf)

    splits = expanding_window_split(events, test_size=3, n_splits=2, step_size=3)
    (tr0, te0), (tr1, te1) = splits[0], splits[1]
    assert te0.count() == te1.count()
    assert tr0.count() < tr1.count()

    s = sliding_window_split(events, test_size=3, n_splits=2, step_size=3, window_size=10)
    tr, te = s[1]
    per_entity = tr.groupBy("user_id").count().collect()
    assert all(r["count"] <= 10 for r in per_entity)


def test_zero_inflated_on_sparse_series(spark):
    """A series that is mostly zeros with occasional constant spikes:
    the blend must land strictly between 0 and the spike value and the
    zero-threshold path must not engage the below-regressor."""
    from functime_spark.forecasting.censored import zero_inflated_model

    rows = [
        ("a", t, 10.0 if t % 4 == 0 else 0.0) for t in range(1, 61)
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    pred = zero_inflated_model(freq="1i", lags=4).fit(y).predict(4).toPandas()
    assert len(pred) == 4
    assert (pred["y"] >= -1.0).all() and (pred["y"] <= 11.0).all()


def test_censored_model_two_regimes(spark):
    from functime_spark.forecasting.censored import censored_model

    rows = [("a", t, 100.0 + (t % 3) if t % 2 == 0 else 1.0) for t in range(1, 81)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    pred = censored_model(freq="1i", lags=4, threshold=50.0).fit(y).predict(3).toPandas()
    assert len(pred) == 3
    assert pred["y"].between(-5, 110).all()


def test_knn_constant_series(spark):
    """kNN on constant series must predict the constant."""
    from functime_spark.forecasting.knn import knn

    rows = [(e, t, float(v)) for e, v in [("a", 5.0), ("b", 9.0)] for t in range(1, 31)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    pred = knn(freq="1i", lags=3, n_neighbors=2).fit(y).predict(3).toPandas()
    for ent, want in [("a", 5.0), ("b", 9.0)]:
        np.testing.assert_allclose(
            pred[pred["entity"] == ent]["y"].to_numpy(), want
        )


def test_ann_matches_knn_when_probing_all_cells(spark):
    from functime_spark.forecasting.knn import ann, knn

    rng = np.random.RandomState(3)
    rows = [
        (f"e{e}", t, float(50 + 10 * np.sin(t / 3) + rng.randn()))
        for e in range(4)
        for t in range(1, 41)
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    exact = knn(freq="1i", lags=4, n_neighbors=3).fit(y).predict(2).toPandas()
    approx = (
        ann(freq="1i", lags=4, n_neighbors=3, n_cells=2, n_probe=2)
        .fit(y)
        .predict(2)
        .toPandas()
    )
    m = exact.merge(approx, on=["entity", "t"], suffixes=("_k", "_a"))
    np.testing.assert_allclose(m["y_k"], m["y_a"], rtol=1e-9)


def test_gbt_forecaster_runs(spark):
    from functime_spark.forecasting.tree import gradient_boosted_model

    rows = [("a", t, float(t % 7)) for t in range(1, 61)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    pred = (
        gradient_boosted_model(freq="1i", lags=7, max_iter=5)
        .fit(y)
        .predict(7)
        .toPandas()
    )
    assert len(pred) == 7
    assert pred["y"].between(-1, 7).all()


def test_elite_prefers_snaive_on_seasonal_data(spark):
    """On a strictly periodic panel the snaive candidate backtests to
    ~0 smape and must dominate the blend."""
    from functime_spark.forecasting.elite import elite

    rows = [("a", t, float((t % 5) * 2 + 1)) for t in range(1, 81)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    fc = elite(freq="1i", lags=5, sp=5, top_k=1, test_size=5, n_splits=2).fit(y)
    pred = fc.predict(5).toPandas().sort_values("t")
    want = [float((t % 5) * 2 + 1) for t in range(81, 86)]
    np.testing.assert_allclose(pred["y"].to_numpy(), want)


def test_auto_linear_picks_a_config(spark):
    from functime_spark.forecasting.automl import auto_linear_model

    rng = np.random.RandomState(0)
    rows = []
    for e in range(3):
        x = [10.0, 11.0]
        for t in range(1, 61):
            x.append(0.6 * x[-1] + 0.3 * x[-2] + rng.randn() * 0.1)
            rows.append((f"e{e}", t, x[-1]))
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    fc = auto_linear_model(
        freq="1i", min_lags=2, max_lags=6, test_size=4, n_splits=2
    ).fit(y)
    assert fc.best_params_["lags"] in (2, 4, 6)
    pred = fc.predict(3).toPandas()
    assert len(pred) == 9


@pytest.mark.parametrize(
    "cls_name", ["auto_ses", "auto_holt", "auto_hw", "auto_croston"]
)
def test_auto_smoothing_grid_selects_argmin(events, cls_name):
    """auto_* smoothing (r11): the grid winner must equal a manual
    argmin over the same candidates scored through the PUBLIC
    backtest + pooled-SMAPE path, the fitted object must predict like
    the winner refit on the full panel, and no candidate carries a
    lags key (the smoothing constructors reject it)."""
    import functime_spark.forecasting.automl as am

    cls = getattr(am, cls_name)
    kwargs = {"sp": 4} if cls_name == "auto_hw" else {}
    fc = cls(freq="1h", search="grid", **kwargs).fit(events)

    cands = cls(freq="1h", **kwargs)._candidates()
    assert all("lags" not in kw for kw in cands)
    best, best_score = None, float("inf")
    for kw in cands:
        score = am._cv_score(lambda kw=kw: cls._family(**kw), events, 4, 2)
        if score < best_score:
            best, best_score = kw, score
    assert fc.best_params_ == best
    assert fc.best_score_ == pytest.approx(best_score, rel=1e-12)

    want = _pdf(cls._family(**best).fit(events).predict(3))
    got = _pdf(fc.predict(3))
    np.testing.assert_allclose(
        got.sort_values(["user_id", "ts"])["value"].to_numpy(),
        want.sort_values(["user_id", "ts"])["value"].to_numpy(),
        rtol=1e-12,
    )


def test_auto_smoothing_halving_and_cfo(events):
    """auto_ses: halving picks the grid winner with fewer split-fits;
    CFO's directional search stays inside the alpha bounds and refits
    a valid winner (no lags dim in the space)."""
    from functime_spark.forecasting.automl import auto_ses

    grid = auto_ses(freq="1h", search="grid").fit(events)
    halv = auto_ses(freq="1h").fit(events)  # default halving
    assert halv.best_params_ == grid.best_params_
    assert halv.best_score_ == pytest.approx(grid.best_score_, rel=1e-12)
    # 3 candidates: grid 6 split-fits, halving 3 + 2 survivors * 1
    assert grid.n_fit_trials_ == 6
    assert halv.n_fit_trials_ == 5

    cfo = auto_ses(freq="1h", search="cfo", cfo_max_trials=8).fit(events)
    assert 0.05 <= cfo.best_params_["alpha"] <= 0.95
    assert cfo.predict(2).count() > 0


def test_halving_search_matches_grid_with_fewer_trials(spark):
    """Successive halving must (a) pick the same winner as the
    exhaustive grid — expanding splits are nested, so survivor scores
    are byte-identical to the full backtest — and (b) fit strictly
    fewer split-models: N + ceil(N/2)*(n_splits-1) < N*n_splits."""
    from functime_spark.forecasting.automl import auto_ridge

    rng = np.random.RandomState(7)
    rows = []
    for e in range(3):
        x = [10.0, 11.0]
        for t in range(1, 61):
            x.append(0.6 * x[-1] + 0.3 * x[-2] + rng.randn() * 0.1)
            rows.append((f"e{e}", t, x[-1]))
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    kw = dict(freq="1i", min_lags=2, max_lags=6, test_size=4, n_splits=2)
    grid = auto_ridge(search="grid", **kw).fit(y)
    halv = auto_ridge(**kw).fit(y)  # default search="halving"
    assert halv.best_params_ == grid.best_params_
    assert halv.best_score_ == pytest.approx(grid.best_score_, rel=1e-12)
    # 6 candidates (3 lags x 2 alphas): grid 12 split-fits, halving 9
    assert grid.n_fit_trials_ == 12
    assert halv.n_fit_trials_ == 9


def test_cv_named_exports_fit(spark):
    """lasso_cv / ridge_cv / elastic_net_cv / flaml_lightgbm are
    importable from the package root (ref forecasting/__init__.py
    surface) and fit-predict end to end."""
    from functime_spark.forecasting import (
        elastic_net_cv,
        flaml_lightgbm,
        lasso_cv,
        ridge_cv,
    )

    rng = np.random.RandomState(1)
    rows = []
    for e in range(2):
        x = [5.0, 6.0]
        for t in range(1, 41):
            x.append(0.7 * x[-1] + 0.2 * x[-2] + rng.randn() * 0.1)
            rows.append((f"e{e}", t, x[-1]))
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    for cls in (lasso_cv, ridge_cv, elastic_net_cv):
        fc = cls(freq="1i", lags=3, test_size=3, n_splits=2).fit(y)
        assert "alpha" in fc.best_params_
        assert fc.predict(2).count() == 4
    fc = flaml_lightgbm(freq="1i", min_lags=3, max_lags=3, test_size=3, n_splits=2).fit(y)
    assert fc.predict(2).count() == 4


def test_native_tree_param_mapping(spark, events):
    """The native-integration param maps are exercised without the
    packages: values must mirror the MLlib config they replace."""
    from functime_spark.forecasting.tree import lightgbm, xgboost
    from functime_spark.panel import panel_cols

    fc = xgboost(freq="1h", lags=4, max_iter=7, max_depth=3, step_size=0.2)
    fc.state["panel"] = panel_cols(events)
    p = fc._native_params()
    assert p["n_estimators"] == 7 and p["max_depth"] == 3
    assert p["learning_rate"] == 0.2 and p["label_col"] == "value"

    fc = lightgbm(freq="1h", lags=4, max_iter=9, max_depth=4, step_size=0.05)
    fc.state["panel"] = panel_cols(events)
    p = fc._native_params()
    assert p["numIterations"] == 9 and p["maxDepth"] == 4
    assert p["learningRate"] == 0.05 and p["labelCol"] == "value"


def test_gbt_native_hyperparameter_translation(spark, events):
    """The r6 translation layer: each flavor accepts the reference's
    NATIVE hyperparameter vocabulary (the ref forwards **kwargs to
    lgb_train/xgb_train/CatBoost verbatim), maps it onto the MLlib GBT
    backbone, and records+warns on the params MLlib cannot express —
    nothing silently dropped."""
    from functime_spark.forecasting.tree import catboost, lightgbm, xgboost
    from functime_spark.panel import panel_cols

    with pytest.warns(UserWarning, match="lambda_l1"):
        fc = lightgbm(
            freq="1h", lags=4, num_iterations=30, learning_rate=0.05,
            num_leaves=31, min_data_in_leaf=20, feature_fraction=0.8,
            bagging_fraction=0.9, max_bin=64, lambda_l1=0.1,
            objective="regression",
        )
    assert fc.max_iter == 30 and fc.step_size == 0.05
    assert fc.max_depth == 5  # ceil(log2(31)) leaf->depth bound
    assert fc.dropped_params == {"lambda_l1": 0.1}
    fc.state["panel"] = panel_cols(events)
    reg = fc._regressor()
    assert reg.getMaxIter() == 30 and reg.getStepSize() == 0.05
    assert reg.getMinInstancesPerNode() == 20
    assert reg.getSubsamplingRate() == 0.9
    assert reg.getFeatureSubsetStrategy() == "0.8"
    assert reg.getMaxBins() == 64 and reg.getLossType() == "squared"
    # native path: SynapseML is a camelCase Params wrapper, so the
    # original vocabulary must arrive TRANSLATED, not verbatim
    # (ADVICE r6 — snake_case kwargs raise TypeError there)
    p = fc._native_params()
    assert p["numLeaves"] == 31 and p["featureFraction"] == 0.8
    assert p["lambdaL1"] == 0.1 and p["maxBin"] == 64

    with pytest.warns(UserWarning, match="reg_lambda"):
        fc = xgboost(
            freq="1h", lags=4, n_estimators=25, eta=0.3, max_depth=6,
            subsample=0.7, colsample_bytree=0.5, reg_lambda=1.0,
            objective="reg:absoluteerror",
        )
    fc.state["panel"] = panel_cols(events)
    reg = fc._regressor()
    assert reg.getMaxIter() == 25 and abs(reg.getStepSize() - 0.3) < 1e-12
    assert reg.getMaxDepth() == 6
    assert abs(reg.getSubsamplingRate() - 0.7) < 1e-12
    assert reg.getFeatureSubsetStrategy() == "0.5"
    assert reg.getLossType() == "absolute"

    with pytest.warns(UserWarning, match="l2_leaf_reg"):
        fc = catboost(
            freq="1h", lags=4, iterations=40, depth=4, rsm=0.6,
            random_seed=3, l2_leaf_reg=2.0,
        )
    fc.state["panel"] = panel_cols(events)
    reg = fc._regressor()
    assert reg.getMaxIter() == 40 and reg.getMaxDepth() == 4
    assert reg.getFeatureSubsetStrategy() == "0.6" and reg.getSeed() == 3

    # backtest refits round-trip the ORIGINAL native kwargs
    kw = fc._init_kwargs()
    assert kw["iterations"] == 40 and kw["rsm"] == 0.6


def test_gbt_objective_label_constraint(spark):
    """Ref lightgbm.py:30-46: gamma clamps labels <= 0 to 1,
    poisson/tweedie clamp labels < 0 to 0, before the fit."""
    from functime_spark.forecasting.tree import _enforce_label_constraint

    y = spark.createDataFrame(
        [("a", 0, -2.0), ("a", 1, 0.0), ("a", 2, 3.0)],
        "entity string, t long, y double",
    )
    g = _enforce_label_constraint(y, "gamma", "y").toPandas().sort_values("t")
    assert list(g["y"]) == [1.0, 1.0, 3.0]
    p = _enforce_label_constraint(y, "poisson", "y").toPandas().sort_values("t")
    assert list(p["y"]) == [0.0, 0.0, 3.0]
    same = _enforce_label_constraint(y, None, "y").toPandas().sort_values("t")
    assert list(same["y"]) == [-2.0, 0.0, 3.0]


@pytest.mark.skipif(
    importlib.util.find_spec("xgboost") is None, reason="xgboost not installed"
)
def test_native_xgboost_path(spark, events):  # pragma: no cover
    """Live only where xgboost.spark is installed: the native path
    must fit and predict through the shared recursion machinery."""
    from functime_spark.forecasting.tree import xgboost

    fc = xgboost(freq="1h", lags=4, max_iter=5).fit(events)
    assert fc.predict(2).count() > 0


def test_linear_model_with_exogenous(spark):
    """y_t = 0.5*y_{t-1} + 2*x_t must be recovered exactly when the
    future x is supplied."""
    from functime_spark.forecasting.linear import linear_model

    rows_y, rows_x = [], []
    for e in ("a", "b"):
        y_prev = 10.0
        for t in range(1, 61):
            x = float((t * 7 + (0 if e == "a" else 3)) % 5)
            y = 0.5 * y_prev + 2.0 * x
            rows_y.append((e, t, y))
            rows_x.append((e, t, x))
            y_prev = y
    y = spark.createDataFrame(rows_y, "entity string, t long, y double")
    X = spark.createDataFrame(rows_x, "entity string, t long, x double")

    fc = linear_model(freq="1i", lags=1).fit(y, X)
    # future x for t = 61..63
    fut = [
        (e, t, float((t * 7 + (0 if e == "a" else 3)) % 5))
        for e in ("a", "b")
        for t in range(61, 64)
    ]
    X_fut = spark.createDataFrame(fut, "entity string, t long, x double")
    pred = fc.predict(3, X_fut).toPandas().sort_values(["entity", "t"])

    want = {}
    for e in ("a", "b"):
        y_prev = [r[2] for r in rows_y if r[0] == e][-1]
        vals = []
        for t in range(61, 64):
            x = float((t * 7 + (0 if e == "a" else 3)) % 5)
            y_prev = 0.5 * y_prev + 2.0 * x
            vals.append(y_prev)
        want[e] = vals
    for e in ("a", "b"):
        got = pred[pred["entity"] == e]["y"].to_numpy()
        np.testing.assert_allclose(got, want[e], rtol=1e-6)


def test_predict_from_lags_short_entity_edge_pads(spark):
    """Entity "b" has fewer rows than `lags`: the kernel must left-pad
    its buffer with its first value (stack_buffers), for both the
    recursive and the direct loop, with one exogenous column."""
    from functime_spark.forecasting._ar import (
        attach_future_x,
        make_y_lag,
        predict_from_lags,
    )

    lags, fh = 4, 3
    hist = {"a": [3.0, 1.0, 4.0, 1.0, 5.0, 9.0], "b": [10.0, 12.0]}
    rows = [(e, t, v) for e, vals in hist.items() for t, v in enumerate(vals)]
    fut = {"a": [0.5, -1.0, 2.0], "b": [1.5, 0.25, -3.0]}
    xrows = [
        (e, len(hist[e]) + h, x) for e, xs in fut.items() for h, x in enumerate(xs)
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    X_future = spark.createDataFrame(xrows, "entity string, t long, x double")
    state = attach_future_x(make_y_lag(y, lags), X_future, ["x"], fh)

    def make_step(payload):
        def step(lag_feats, x_h, h):
            return lag_feats.mean(axis=1) + x_h.sum(axis=1)

        return step

    for recursive in (True, False):
        got = (
            predict_from_lags(state, fh, lags, None, make_step, recursive=recursive)
            .toPandas()
            .sort_values(["entity", "step"])
        )
        assert list(got.columns) == ["entity", "step", "__yhat"]
        for e, vals in hist.items():
            buf = vals[-lags:]
            buf = [buf[0]] * (lags - len(buf)) + buf
            want = []
            for h in range(fh):
                yhat = sum(buf) / lags + fut[e][h]
                want.append(yhat)
                if recursive:
                    buf = buf[1:] + [yhat]
            g = got[got.entity == e]
            assert g["step"].tolist() == list(range(fh))
            np.testing.assert_allclose(g["__yhat"].to_numpy(), want, rtol=1e-12)


def test_direct_and_ensemble_strategies_all_forecasters(spark):
    """Strategy parity: direct/ensemble must run and produce sane
    output for knn, censored, zero-inflated, and tree forecasters."""
    from functime_spark.forecasting.censored import zero_inflated_model
    from functime_spark.forecasting.knn import knn
    from functime_spark.forecasting.tree import gradient_boosted_model

    rng = np.random.RandomState(1)
    rows = [
        (f"e{e}", t, float(20 + 5 * np.sin(t / 4) + rng.randn() * 0.5))
        for e in range(3)
        for t in range(1, 51)
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    makers = [
        lambda s: knn(freq="1i", lags=4, n_neighbors=3, strategy=s, max_horizons=3),
        lambda s: zero_inflated_model(freq="1i", lags=4, strategy=s, max_horizons=3),
        lambda s: gradient_boosted_model(
            freq="1i", lags=4, max_iter=3, strategy=s, max_horizons=3
        ),
    ]
    for maker in makers:
        preds = {}
        for s in ("recursive", "direct", "ensemble"):
            pred = maker(s)(y, fh=3).toPandas().sort_values(["entity", "t"])
            assert len(pred) == 9
            assert pred["y"].between(0, 50).all()
            preds[s] = pred["y"].to_numpy()
        # ensemble is the mean of the other two strategies
        np.testing.assert_allclose(
            preds["ensemble"], (preds["recursive"] + preds["direct"]) / 2, rtol=1e-9
        )


def test_boosted_stumps_exact_splits(spark):
    """Exact-greedy stumps reduce training SSE monotonically and the
    fitted splits reproduce a numpy re-computation of the same greedy
    selection."""
    import numpy as np

    from functime_spark.forecasting.tree import boosted_stumps

    rng = np.random.default_rng(7)
    rows = []
    for e in ("a", "b"):
        vals = np.abs(rng.normal(10, 5, 40)).round(2)
        rows += [(e, int(t), float(v)) for t, v in enumerate(vals)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    fc = boosted_stumps(
        freq="1i", lags=2, n_iter=3, learning_rate=0.5, max_candidates=None
    ).fit(y)
    assert len(fc.state["stumps"]) == 3

    # numpy replay of the same exact-greedy loop over the lag design
    pdf = y.toPandas().sort_values(["entity", "t"])
    design = []
    for _, g in pdf.groupby("entity"):
        v = g["y"].to_numpy()
        for i in range(2, len(v)):
            design.append((v[i], v[i - 1], v[i - 2]))
    d = np.array(design)
    f = np.full(len(d), d[:, 0].mean())
    assert abs(fc.state["f0"] - d[:, 0].mean()) < 1e-9
    for (feat_idx, v, dl, dr) in fc.state["stumps"]:
        r = d[:, 0] - f
        best = None
        for j in (1, 2):
            for cand in np.unique(d[:, j])[:-1]:
                m = d[:, j] <= cand
                gain = r[m].sum() ** 2 / m.sum() + r[~m].sum() ** 2 / (~m).sum()
                key = (-gain, j - 1, cand)
                if best is None or key < best:
                    best = key
        assert best[1] == feat_idx and abs(best[2] - v) < 1e-12
        m = d[:, feat_idx + 1] <= v
        assert abs(0.5 * (d[:, 0] - f)[m].mean() - dl) < 1e-9
        f = f + np.where(m, dl, dr)

    pred = fc.predict(3).toPandas()
    assert len(pred) == 6 and pred["y"].notna().all()


def test_boosted_trees_d2_binned_greedy(spark):
    """Depth-2 trees reproduce a numpy replay of the HISTOGRAM-BINNED
    two-level greedy induction (equal-width bins from exact min/max,
    root argmax over (feature, bin), side partition, per-side child
    argmaxes with root-row leaf-mean fallback) and strictly reduce
    training SSE vs depth-1 stumps on data with an interaction."""
    import numpy as np

    from functime_spark.forecasting.tree import boosted_stumps, boosted_trees_d2

    rng = np.random.default_rng(21)
    rows = []
    for e in ("a", "b"):
        vals = np.abs(rng.normal(10, 5, 50)).round(2)
        rows += [(e, int(t), float(v)) for t, v in enumerate(vals)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    B = 255
    fc = boosted_trees_d2(
        freq="1i", lags=2, n_iter=2, learning_rate=0.5, max_bins=B
    ).fit(y)
    assert len(fc.state["trees"]) == 2

    pdf = y.toPandas().sort_values(["entity", "t"])
    design = []
    for _, g in pdf.groupby("entity"):
        v = g["y"].to_numpy()
        for i in range(2, len(v)):
            design.append((v[i], v[i - 1], v[i - 2]))
    d = np.array(design)

    # replay the equal-width binning exactly as the fit computes it
    bins = []
    for j in (1, 2):
        lo, hi = d[:, j].min(), d[:, j].max()
        bins.append((lo, (hi - lo) / float(B) if hi > lo else 0.0))
    assert all(
        abs(a - b) < 1e-15 for (a, _), (b, _) in zip(fc.state["bins"], bins)
    )
    bcols = np.column_stack(
        [
            np.zeros(len(d)) if w == 0.0
            else np.clip(np.floor((d[:, j + 1] - lo) / w), 0, B - 1)
            for j, (lo, w) in enumerate(bins)
        ]
    )

    def best_split(mask, r):
        """argmax over (feature, bin) with (gain desc, feat, bin) ties;
        returns (key, ml, mr) or None."""
        best = None
        for j in (0, 1):
            col = bcols[mask, j]
            for cand in np.unique(col)[:-1]:
                m = col <= cand
                sl, cl = r[mask][m].sum(), m.sum()
                sr, cr = r[mask][~m].sum(), (~m).sum()
                gain = sl**2 / cl + sr**2 / cr
                key = (-gain, j, cand)
                if best is None or key < best[0]:
                    best = (key, sl / cl, sr / cr)
        return best

    f = np.full(len(d), d[:, 0].mean())
    assert abs(fc.state["f0"] - d[:, 0].mean()) < 1e-9
    all_mask = np.ones(len(d), dtype=bool)
    for rj, rv, left, right in fc.state["trees"]:
        r = d[:, 0] - f
        root = best_split(all_mask, r)
        (_, rootj, rootv), root_ml, root_mr = root
        assert rootj == rj and abs(rootv - rv) < 1e-12
        lmask = bcols[:, rj] <= rv
        contrib = np.zeros(len(d))
        for side_mask, child, fallback in (
            (lmask, left, root_ml),
            (~lmask, right, root_mr),
        ):
            sub = best_split(side_mask, r)
            if child[0] == "leaf":
                # leaf fallback = lr * the ROOT row's side mean
                assert sub is None
                contrib[side_mask] = 0.5 * fallback
                assert abs(0.5 * fallback - child[1]) < 1e-9
            else:
                _, sj, sv, dl, dr = child
                (_, subj, subv), sub_ml, sub_mr = sub
                assert subj == sj and abs(subv - sv) < 1e-12
                inner = side_mask & (bcols[:, sj] <= sv)
                assert abs(0.5 * sub_ml - dl) < 1e-9
                assert abs(0.5 * sub_mr - dr) < 1e-9
                contrib[inner] = dl
                contrib[side_mask & ~inner] = dr
        f = f + contrib

    # same rounds, same lr: the extra depth must fit train at least as well
    st = boosted_stumps(
        freq="1i", lags=2, n_iter=2, learning_rate=0.5, max_candidates=None
    ).fit(y)
    fs = np.full(len(d), st.state["f0"])
    for j, v, dl, dr in st.state["stumps"]:
        fs = fs + np.where(d[:, j + 1] <= v, dl, dr)
    assert ((d[:, 0] - f) ** 2).sum() <= ((d[:, 0] - fs) ** 2).sum() + 1e-9

    pred = fc.predict(3).toPandas()
    assert len(pred) == 6 and pred["y"].notna().all()


def test_boosted_trees_d2_fit_is_two_actions_per_round(spark):
    """The r6 scale fix, tightened by r12: (a) the whole fit runs
    1 + n_iter collect-class actions (one stats aggregate, then per
    round ONE fused action covering the root argmax AND both children
    — the root winner reduces in-plan and broadcasts back, no
    per-feature .first() fan-out, no separate children action);
    (b) the candidate window is PARTITIONED (no Exchange
    SinglePartition anywhere in the split-search plan)."""
    import numpy as np
    from pyspark.sql import DataFrame

    from functime_spark.forecasting.tree import boosted_trees_d2

    rng = np.random.default_rng(3)
    rows = [
        (e, int(t), float(v))
        for e in ("a", "b")
        for t, v in enumerate(np.abs(rng.normal(10, 5, 40)))
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    counts = {"n": 0}
    orig = DataFrame.collect

    def counted(self):
        counts["n"] += 1
        return orig(self)

    DataFrame.collect = counted
    try:
        n_iter = 3
        fc = boosted_trees_d2(freq="1i", lags=2, n_iter=n_iter).fit(y)
    finally:
        DataFrame.collect = orig
    # first()/collect both route through DataFrame.collect; the fit
    # budget is the stats aggregate + ONE action per boosting round
    assert counts["n"] <= 1 + n_iter

    # plan pin: the fused candidate frame has only partitioned windows
    resid = (F.col("__y") - F.lit(fc.state["f0"]))
    binned = (
        y.selectExpr("y AS __y", "y AS l1", "y AS l2")
        .select("__y", *[F.col(c).cast("int").alias(f"__b{j}")
                         for j, c in enumerate(["l1", "l2"])])
    )
    scored = fc._scored_candidates(
        binned, [F.col("__b0"), F.col("__b1")], resid
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_boosted_stumps_binned_mode(spark):
    """max_candidates bounds split candidates to quantile edges; the
    fitted thresholds come from the edge set and predict applies the
    same snap-down rule."""
    import numpy as np

    from functime_spark.forecasting.tree import boosted_stumps

    rng = np.random.default_rng(11)
    rows = []
    for e in ("a", "b", "c"):
        vals = np.abs(rng.normal(20, 8, 60))
        rows += [(e, int(t), float(v)) for t, v in enumerate(vals)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    fc = boosted_stumps(
        freq="1i", lags=2, n_iter=3, learning_rate=0.5, max_candidates=8
    ).fit(y)
    edges = fc.state["snap_edges"]
    assert edges is not None and all(len(e) <= 7 for e in edges)
    for j, v, dl, dr in fc.state["stumps"]:
        assert any(abs(v - e) < 1e-12 for e in edges[j])
    pred = fc.predict(3).toPandas()
    assert len(pred) == 9 and pred["y"].notna().all()


@requires_local_checkpoint
def test_conformal_deterministic_and_materialized(events):
    """Regression for the r2 session-sticky row duplication: the
    un-materialized backtest lineage tripped a false broadcast-exchange
    reuse (~half of sessions returned every row twice, the duplicate
    carrying the OTHER alpha's quantile). backtest/conformalize now
    localCheckpoint their n_entities-scale intermediates, so (a)
    count == collect length == the closed-form row count and (b) the
    final plan re-scans the source parquet ZERO times (was 22)."""
    from functime_spark.forecasting.naive import naive
    from functime_spark.plans import count_file_scans

    n_entities = events.select("user_id").distinct().count()
    fh, test_size, n_splits = 3, 2, 2
    ci = naive(freq="1h").conformalize(
        events, fh=fh, alphas=[0.1, 0.9], test_size=test_size, n_splits=n_splits
    )
    expected = n_entities * (fh + test_size * n_splits) * 2
    assert ci.count() == len(ci.collect()) == expected
    assert count_file_scans(ci) <= 6


def test_lasso_ic_recovers_sparse_weights():
    """The numpy L1-path + AIC stacker (the LassoLarsIC stand-in) must
    recover a sparse blend: y = 2*x1 + 0*x2 + noise → coef on x2 ~ 0."""
    import numpy as np

    from functime_spark.forecasting.elite import _lasso_ic

    rng = np.random.default_rng(3)
    x1 = rng.standard_normal(400)
    x2 = rng.standard_normal(400)
    y = 2.0 * x1 + 0.01 * rng.standard_normal(400) + 1.5
    b0, coefs = _lasso_ic(np.column_stack([x1, x2]), y)
    assert abs(coefs[0] - 2.0) < 0.05
    assert abs(coefs[1]) < 0.05
    assert abs(b0 - 1.5) < 0.05


def test_elite_lasso_stacking_beats_mean_blend(spark):
    """On a pure linear-trend panel the AR linear forecaster is
    near-exact while naive lags one level behind; the lasso stacker
    should weight linear ~1 (ref elite.py ensemble_strategy='lasso'),
    beating the naive+linear mean blend."""
    import datetime

    import numpy as np

    from functime_spark.forecasting.elite import elite
    from functime_spark.forecasting.linear import linear_model
    from functime_spark.forecasting.naive import naive

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for e in range(6):
        for i in range(40):
            rows.append((e, t0 + datetime.timedelta(hours=i), 10.0 * e + 2.0 * i))
    y = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    bank = {
        "naive": lambda: naive(freq="1h"),
        "linear": lambda: linear_model(freq="1h", lags=2),
    }
    fh = 4

    def mae_of(fc):
        pred = fc.fit(y).predict(fh).toPandas()
        err = []
        for r in pred.itertuples():
            i = 40 + (r.ts - t0).total_seconds() / 3600 - 40
            truth = 10.0 * r.user_id + 2.0 * ((r.ts - t0).total_seconds() / 3600)
            err.append(abs(r.value - truth))
        return float(np.mean(err))

    kw = dict(freq="1h", lags=2, top_k=2, test_size=4, n_splits=2, bank=bank)
    mae_mean = mae_of(elite(ensemble_strategy="mean", **kw))
    mae_lasso = mae_of(elite(ensemble_strategy="lasso", **kw))
    assert mae_lasso < mae_mean * 0.5, (mae_lasso, mae_mean)
    assert mae_lasso < 0.2


def test_halving_matches_grid_three_splits(spark):
    """The split-nesting argument must hold beyond 2 splits: with
    n_splits=3 a survivor's pooled score still reproduces the full
    backtest exactly (trim j=1 and j=2 rows per entity)."""
    from functime_spark.forecasting.automl import auto_linear_model

    rng = np.random.RandomState(11)
    rows = []
    for e in range(2):
        x = [8.0, 9.0]
        for t in range(1, 71):
            x.append(0.5 * x[-1] + 0.4 * x[-2] + rng.randn() * 0.2)
            rows.append((f"e{e}", t, x[-1]))
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    kw = dict(freq="1i", min_lags=2, max_lags=6, test_size=4, n_splits=3)
    grid = auto_linear_model(search="grid", **kw).fit(y)
    halv = auto_linear_model(**kw).fit(y)
    assert halv.best_params_ == grid.best_params_
    assert halv.best_score_ == pytest.approx(grid.best_score_, rel=1e-12)
    # 3 candidates: grid 9 split-fits, halving 3 + 2*2 = 7
    assert grid.n_fit_trials_ == 9
    assert halv.n_fit_trials_ == 7


def test_forecasters_survive_degenerate_panel(spark):
    """A panel mixing a 1-observation entity, a constant entity and a
    normal one must fit-predict everywhere (fallback paths engage; no
    crash, one forecast row per entity per step)."""
    rows = [("one", 1, 5.0)]
    rows += [("const", t, 3.0) for t in range(1, 31)]
    rows += [("norm", t, float(t % 7) + 0.1 * t) for t in range(1, 31)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    from functime_spark.forecasting.automl import auto_linear_model
    from functime_spark.forecasting.censored import zero_inflated_model
    from functime_spark.forecasting.elite import elite
    from functime_spark.forecasting.knn import knn
    from functime_spark.forecasting.linear import linear_model, ridge
    from functime_spark.forecasting.naive import naive, snaive

    for fc in [
        naive(freq="1i"),
        snaive(freq="1i", sp=4),
        linear_model(freq="1i", lags=3),
        ridge(freq="1i", lags=3),
        knn(freq="1i", lags=3),
        zero_inflated_model(freq="1i", lags=3),
        elite(freq="1i", lags=3, sp=4, top_k=1, test_size=3, n_splits=2),
        auto_linear_model(
            freq="1i", min_lags=2, max_lags=4, test_size=3, n_splits=2
        ),
    ]:
        assert fc.fit(y).predict(3).count() == 9


def test_standalone_enbpi_matches_reference_contract(spark):
    """enbpi(y_pred, y_resid, alphas): per-entity residual quantile
    added to the point forecast, one row per (row, alpha) labeled by
    the raw alpha (ref conformal.py:6-38)."""
    import datetime as dt

    import numpy as np

    from functime_spark.conformal import enbpi

    t0 = dt.datetime(2024, 1, 1)
    y_pred = spark.createDataFrame(
        [("a", t0, 10.0), ("a", t0 + dt.timedelta(hours=1), 12.0),
         ("b", t0, 5.0)],
        "user_id string, ts timestamp, value double",
    )
    resid_a = [-2.0, -1.0, 0.5, 1.5]
    resid_b = [0.0, 1.0]
    y_resid = spark.createDataFrame(
        [("a", t0, r) for r in resid_a] + [("b", t0, r) for r in resid_b],
        "user_id string, ts timestamp, resid double",
    )
    out = enbpi(y_pred, y_resid, alphas=[0.1, 0.9]).collect()
    assert len(out) == 6
    got = {(r.user_id, r.ts, r.quantile): r.value for r in out}
    for alpha in (0.1, 0.9):
        qa = float(np.quantile(resid_a, alpha))  # linear interpolation
        qb = float(np.quantile(resid_b, alpha))
        assert abs(got[("a", t0, alpha)] - (10.0 + qa)) < 1e-9
        assert abs(got[("a", t0 + dt.timedelta(hours=1), alpha)] - (12.0 + qa)) < 1e-9
        assert abs(got[("b", t0, alpha)] - (5.0 + qb)) < 1e-9
    # reference parity (ref conformal.py how='left'): an entity with
    # predictions but NO residuals keeps its rows with NULL bounds;
    # drop_missing=True opts into the inner-join drop
    y_pred_c = y_pred.union(
        spark.createDataFrame([("c", t0, 3.0)], y_pred.schema)
    )
    out_c = enbpi(y_pred_c, y_resid, alphas=[0.1, 0.9]).collect()
    assert len(out_c) == 8
    assert sum(r.value is None for r in out_c) == 2
    assert all(r.user_id == "c" for r in out_c if r.value is None)
    out_d = enbpi(y_pred_c, y_resid, alphas=[0.1, 0.9], drop_missing=True).collect()
    assert len(out_d) == 6
    assert all(r.value is not None for r in out_d)


def test_auto_cfo_local_search(spark):
    """search="cfo": deterministic directional search respects its
    trial budget, never accepts an uphill move (final cheap-fidelity
    score <= the low-cost start's), tunes the continuous alpha dim off
    its start value when data demands it, and reports a best_score_
    that reproduces under an independent full-backtest rescore."""
    import numpy as np

    from functime_spark.forecasting.automl import _cv_score, auto_ridge

    rng = np.random.default_rng(5)
    rows = []
    for e in range(6):
        base = rng.normal(50, 5)
        vals = base + np.sin(np.arange(40) / 3.0) * 10 + rng.normal(0, 1, 40)
        rows += [(str(e), int(t), float(v)) for t, v in enumerate(vals)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    fc = auto_ridge(
        freq="1i", min_lags=2, max_lags=6, search="cfo", cfo_max_trials=12
    ).fit(y)
    # budget: search trials <= cfo_max_trials, + n_splits for the final
    # full rescore of the winner
    assert fc.n_fit_trials_ <= 12 + fc.n_splits
    assert 2 <= fc.best_params_["lags"] <= 6
    assert 1e-3 <= fc.best_params_["alpha"] <= 10.0

    # score consistency: best_score_ is the winner's full pooled CV
    rescore = _cv_score(
        lambda: fc._family(**fc.best_params_), y, fc.test_size, fc.n_splits
    )
    assert abs(rescore - fc.best_score_) < 1e-9

    # determinism: an identical search lands on the identical config
    fc2 = auto_ridge(
        freq="1i", min_lags=2, max_lags=6, search="cfo", cfo_max_trials=12
    ).fit(y)
    assert fc2.best_params_ == fc.best_params_
    assert abs(fc2.best_score_ - fc.best_score_) < 1e-12

    pred = fc.predict(3).toPandas()
    assert len(pred) == 18 and pred["y"].notna().all()


def test_gbt_exogenous_features(spark):
    """Exogenous X must flow into the GBT feature vector at fit AND
    into every prediction step: on a target driven by a binary exog
    column, the forecast must track the FUTURE x pattern per entity
    (it cannot do that from lags alone), for both the recursive and
    direct strategies. Predicting without X_future raises."""
    import numpy as np

    from functime_spark.forecasting.tree import gradient_boosted_model

    rng = np.random.default_rng(9)
    rows, xrows = [], []
    for e in ("a", "b"):
        for t in range(80):
            x = 1.0 if (t // 4) % 2 else 0.0
            rows.append((e, t, float(50.0 * x + 10.0 + rng.normal(0, 0.1))))
            xrows.append((e, t, x))
    for e, pat in (("a", [1, 1, 0, 0]), ("b", [0, 0, 1, 1])):
        for i, xv in enumerate(pat):
            xrows.append((e, 80 + i, float(xv)))
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    X = spark.createDataFrame(xrows, "entity string, t long, x double")
    want = {"a": np.array([60.0, 60.0, 10.0, 10.0]), "b": np.array([10.0, 10.0, 60.0, 60.0])}
    fitted = None
    for strat in ("recursive", "direct"):
        fc = gradient_boosted_model(
            freq="1i", lags=2, strategy=strat, max_horizons=4, max_iter=10, seed=7
        ).fit(y, X)
        fitted = fc
        pred = fc.predict(4, X.filter("t >= 80")).toPandas().sort_values(["entity", "t"])
        for e in ("a", "b"):
            got = pred[pred.entity == e]["y"].to_numpy()
            np.testing.assert_allclose(got, want[e], atol=2.0)
    with pytest.raises(ValueError, match="X_future"):
        fitted.predict(4)


def test_knn_censored_exogenous_features(spark):
    """Exogenous X flows through knn (brute + IVF ann) and the
    censored blend: on an x-driven target, the recursive paths must
    track the FUTURE x pattern per entity; the direct path at minimum
    must differ from an X-less fit (proof X is in the design) and
    raise without X_future."""
    import numpy as np

    from functime_spark.forecasting.censored import censored_model
    from functime_spark.forecasting.knn import ann, knn

    rng = np.random.default_rng(9)
    rows, xrows = [], []
    for e in ("a", "b"):
        for t in range(80):
            x = 1.0 if (t // 4) % 2 else 0.0
            rows.append((e, t, float(50.0 * x + 10.0 + rng.normal(0, 0.1))))
            xrows.append((e, t, x))
    for e, pat in (("a", [1, 1, 0, 0]), ("b", [0, 0, 1, 1])):
        for i, xv in enumerate(pat):
            xrows.append((e, 80 + i, float(xv)))
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    X = spark.createDataFrame(xrows, "entity string, t long, x double")
    Xf = X.filter("t >= 80")
    want = {"a": np.array([60.0, 60.0, 10.0, 10.0]), "b": np.array([10.0, 10.0, 60.0, 60.0])}

    for fc in (
        knn(freq="1i", lags=2, n_neighbors=3).fit(y, X),
        ann(freq="1i", lags=2, n_neighbors=3, n_cells=4, n_probe=2).fit(y, X),
        censored_model(freq="1i", lags=2, threshold=30.0).fit(y, X),
    ):
        pred = fc.predict(4, Xf).toPandas().sort_values(["entity", "t"])
        for e in ("a", "b"):
            got = pred[pred.entity == e]["y"].to_numpy()
            np.testing.assert_allclose(got, want[e], atol=2.0)
        with pytest.raises(ValueError, match="X_future"):
            fc.predict(4)

    # direct knn: X enters the reference matrix (unscaled binary x
    # cannot dominate lag distance on unseen queries, so assert use,
    # not pattern-tracking)
    with_x = (
        knn(freq="1i", lags=2, n_neighbors=3, strategy="direct", max_horizons=4)
        .fit(y, X)
        .predict(4, Xf)
        .toPandas()
        .sort_values(["entity", "t"])["y"]
        .to_numpy()
    )
    without_x = (
        knn(freq="1i", lags=2, n_neighbors=3, strategy="direct", max_horizons=4)
        .fit(y)
        .predict(4)
        .toPandas()
        .sort_values(["entity", "t"])["y"]
        .to_numpy()
    )
    assert not np.allclose(with_x, without_x)

    # ensemble strategy: the design width exceeds `lags`, so the
    # recursive reference matrix must splice the lag block and the
    # exogenous block around the extra horizon columns (regression for
    # the round-5 slice bug) — step-1 predictions use the observed
    # buffer on both members, so they must track the first future x
    ens = (
        knn(freq="1i", lags=2, n_neighbors=3, strategy="ensemble", max_horizons=4)
        .fit(y, X)
        .predict(4, Xf)
        .toPandas()
        .sort_values(["entity", "t"])
    )
    assert np.isfinite(ens["y"].to_numpy()).all()
    first = {e: g["y"].iloc[0] for e, g in ens.groupby("entity")}
    assert abs(first["a"] - 60.0) < 3.0 and abs(first["b"] - 10.0) < 3.0


def test_backtest_conformalize_with_exog(spark):
    """backtest(X=...) fits each split with X and predicts with the
    split's test-time X rows: on an x-driven target the exog backtest
    must be an order of magnitude more accurate than the X-less one.
    conformalize threads X/X_future through to the point forecast."""
    import numpy as np

    from functime_spark.forecasting.linear import linear_model

    rng = np.random.default_rng(9)
    rows, xrows = [], []
    for e in ("a", "b"):
        for t in range(84):
            x = 1.0 if (t // 4) % 2 else 0.0
            rows.append((e, t, float(50.0 * x + 10.0 + rng.normal(0, 0.1))))
            xrows.append((e, t, x))
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    X = spark.createDataFrame(xrows, "entity string, t long, x double")
    fc = linear_model(freq="1i", lags=2)

    def mae(bt):
        m = bt.join(y.withColumnRenamed("y", "act"), on=["entity", "t"]).toPandas()
        return float(np.abs(m["y"] - m["act"]).mean())

    err_x = mae(fc.backtest(y, test_size=4, n_splits=2, X=X))
    err_nox = mae(fc.backtest(y, test_size=4, n_splits=2))
    assert err_x < 1.0 < err_nox

    ci = fc.conformalize(
        y, fh=4, alphas=[0.1, 0.9], test_size=4, n_splits=2,
        X=X, X_future=X.filter("t >= 80"),
    )
    pdf = ci.toPandas()
    lo = pdf[pdf["quantile"] == 10].sort_values(["entity", "t"])["y"].to_numpy()
    hi = pdf[pdf["quantile"] == 90].sort_values(["entity", "t"])["y"].to_numpy()
    assert len(lo) and (lo <= hi).all()


def test_lasso_cd_exact_coordinate_descent(spark):
    """cd_iters switches the L1 fit to exact coordinate descent on the
    centered sufficient statistics: one aggregate pass, deterministic
    driver arithmetic. Must agree with a fully-converged numpy CD on
    the raw design to ~1e-3 and zero out every weight under a large
    enough alpha (intercept unpenalized -> falls back to the mean)."""
    import numpy as np

    from functime_spark.forecasting.linear import lasso

    rng = np.random.default_rng(0)
    rows = []
    for e in ("a", "b"):
        x = [1.0, 2.0]
        for t in range(300):
            x.append(0.6 * x[-1] + 0.3 * x[-2] + 0.5 + rng.normal(0, 0.2))
        rows += [(e, t, float(v)) for t, v in enumerate(x)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    fc = lasso(freq="1i", lags=2, alpha=0.1, cd_iters=200).fit(y)
    w, b = fc.state["recursive_model"]

    pdf = y.toPandas().sort_values(["entity", "t"])
    D = []
    for _, g in pdf.groupby("entity"):
        v = g["y"].to_numpy()
        for i in range(2, len(v)):
            D.append((v[i], v[i - 1], v[i - 2]))
    D = np.array(D)
    Y, Xm = D[:, 0], D[:, 1:]
    n, mx, my = len(Y), D[:, 1:].mean(0), D[:, 0].mean()
    Xc, Yc = Xm - mx, Y - my
    wref = np.zeros(2)
    for _ in range(5000):
        for j in range(2):
            r = Yc - Xc @ wref + Xc[:, j] * wref[j]
            rho = Xc[:, j] @ r
            wref[j] = np.sign(rho) * max(abs(rho) - 0.1 * n, 0) / (Xc[:, j] @ Xc[:, j])
    np.testing.assert_allclose(np.asarray(w), wref, atol=1e-3)
    assert abs(b - (my - mx @ wref)) < 1e-2

    # huge alpha: both lag weights soft-threshold to exactly zero
    fz = lasso(freq="1i", lags=2, alpha=1e6, cd_iters=10).fit(y)
    wz, bz = fz.state["recursive_model"]
    assert np.all(np.asarray(wz) == 0.0) and abs(bz - my) < 1e-9


def test_elastic_net_cd_kkt(spark):
    """The CD path's elastic-net branch (threshold n*alpha*l1,
    denominator Gc_jj + n*alpha*(1-l1)) must land on a point
    satisfying the elastic-net KKT conditions of the sklearn objective
    1/(2n)||y-Xw-b||^2 + alpha*(l1*|w|_1 + (1-l1)/2*|w|_2^2), computed
    independently on the raw numpy design."""
    import numpy as np

    from functime_spark.forecasting.linear import elastic_net

    rng = np.random.default_rng(3)
    rows = []
    for e in ("a", "b"):
        x = [5.0, 6.0]
        for t in range(200):
            x.append(0.5 * x[-1] + 0.2 * x[-2] + 1.0 + rng.normal(0, 0.3))
        rows += [(e, t, float(v)) for t, v in enumerate(x)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    alpha, l1 = 0.05, 0.5
    en = elastic_net(
        freq="1i", lags=2, alpha=alpha, l1_ratio=l1, cd_iters=500
    ).fit(y)
    w, b = en.state["recursive_model"]
    w = np.asarray(w, dtype=float)

    pdf = y.toPandas().sort_values(["entity", "t"])
    D = []
    for _, g in pdf.groupby("entity"):
        v = g["y"].to_numpy()
        for i in range(2, len(v)):
            D.append((v[i], v[i - 1], v[i - 2]))
    D = np.array(D)
    Y, Xm = D[:, 0], D[:, 1:]
    n = len(Y)
    resid = Y - Xm @ w - b
    # intercept stationarity (unpenalized): mean residual ~ 0
    assert abs(resid.mean()) < 1e-8
    grad = -(Xm.T @ resid) / n + alpha * (1 - l1) * w
    for j in range(2):
        if w[j] != 0.0:
            assert abs(grad[j] + alpha * l1 * np.sign(w[j])) < 1e-6
        else:
            assert abs(grad[j]) <= alpha * l1 + 1e-6


def test_attach_future_x_coverage_guard(spark):
    """An entity missing from X_future (or short of fh rows) must
    raise with the entity named, not silently forecast on NULL exog
    values (round-5 review finding)."""
    from functime_spark.forecasting.linear import linear_model

    rows, xrows = [], []
    for e in ("a", "b"):
        for t in range(40):
            rows.append((e, t, float(t)))
            xrows.append((e, t, float(t % 2)))
    for i in range(4):
        xrows.append(("a", 40 + i, 1.0))  # entity b has no future rows
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    X = spark.createDataFrame(xrows, "entity string, t long, x double")
    fc = linear_model(freq="1i", lags=2).fit(y, X)
    with pytest.raises(ValueError, match="incomplete for entities.*b"):
        fc.predict(4, X.filter("t >= 40"))
    # short coverage (2 of 4 future rows) must also raise
    with pytest.raises(ValueError, match="incomplete"):
        fc.predict(4, X.filter("t >= 42"))


def test_boosted_trees_d2_exogenous_feature_wins_splits(spark):
    """y driven by a binary exogenous regime: the exog feature must be
    selected as a root split and the exog forecast must track the
    regime while a lag-only fit cannot."""
    import numpy as np

    rng = np.random.default_rng(9)
    # period-3 regime: x(t) is NOT a function of y(t-1)/y(t-2) (a
    # period-2 regime would make lag_2 a perfect alias of x and the
    # feat-ASC tie-break would pick the lag)
    rows, xrows = [], []
    for e in ("a", "b"):
        for t in range(80):
            x = float(t % 3 == 0)
            rows.append((e, t, 10.0 * x + rng.normal(0, 0.1)))
            xrows.append((e, t, x))
    # future X continues the regime
    for e in ("a", "b"):
        for t in range(80, 84):
            xrows.append((e, t, float(t % 3 == 0)))
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    X = spark.createDataFrame(xrows, "entity string, t long, x double")
    from functime_spark.forecasting.tree import boosted_trees_d2

    fc = boosted_trees_d2(freq="1i", lags=2, n_iter=2, learning_rate=1.0).fit(
        y, X
    )
    # feature index 2 (= lags + 0) is the exog column
    assert any(rj == 2 for rj, _, _, _ in fc.state["trees"])
    pred = (
        fc.predict(4, X.filter("t >= 80"))
        .toPandas()
        .sort_values(["entity", "t"])
        .reset_index(drop=True)
    )
    got = pred[pred.entity == "a"]["y"].to_numpy()
    want = np.array([10.0 * (t % 3 == 0) for t in range(80, 84)])
    assert np.abs(got - want).max() < 1.0


def test_boosted_stumps_default_bounded_one_action_per_round(spark):
    """The r7 scale fix pinned: (a) the DEFAULT config snaps split
    candidates to quantile edges (max_candidates=255) so a continuous
    target cannot make the candidate table O(n_rows); (b) the whole
    fit runs <= 1 + n_iter collect-class actions (one f0 aggregate,
    then ONE fused cross-feature argmax per round — no per-feature
    .first() fan-out); (c) the fused candidate windows are PARTITIONED
    by feature (no Exchange SinglePartition in the split-search plan),
    in exact mode too."""
    import numpy as np
    from pyspark.sql import DataFrame

    from functime_spark.forecasting.tree import boosted_stumps

    rng = np.random.default_rng(5)
    rows = [
        (e, int(t), float(v))
        for e in ("a", "b")
        for t, v in enumerate(np.abs(rng.normal(10, 5, 40)))
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    counts = {"n": 0}
    orig = DataFrame.collect

    def counted(self):
        counts["n"] += 1
        return orig(self)

    DataFrame.collect = counted
    try:
        n_iter = 3
        fc = boosted_stumps(freq="1i", lags=2, n_iter=n_iter).fit(y)
    finally:
        DataFrame.collect = orig
    assert fc.max_candidates == 255
    edges = fc.state["snap_edges"]
    assert edges is not None and all(len(e) <= 254 for e in edges)
    # f0 aggregate + one fused argmax per round (approxQuantile goes
    # through the JVM stat API, not DataFrame.collect)
    assert counts["n"] <= 1 + n_iter

    # plan pin: partitioned windows only — in EXACT mode as well
    resid = F.col("y").cast("double") - F.lit(fc.state["f0"])
    design = y.selectExpr("y", "y AS l1", "y AS l2")
    scored = boosted_stumps._scored_candidates(
        design, [F.col("l1").cast("double"), F.col("l2").cast("double")], resid
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_boosted_stumps_default_matches_exact_on_small_cardinality(spark):
    """With fewer distinct feature values than the default candidate
    budget, the snapped fit must select the same stumps as exact mode
    (quantile edges cover every distinct value)."""
    import numpy as np

    from functime_spark.forecasting.tree import boosted_stumps

    rng = np.random.default_rng(13)
    rows = []
    for e in ("a", "b"):
        vals = rng.integers(0, 12, 50).astype(float)
        rows += [(e, int(t), float(v)) for t, v in enumerate(vals)]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    exact = boosted_stumps(
        freq="1i", lags=2, n_iter=3, max_candidates=None
    ).fit(y)
    snapped = boosted_stumps(freq="1i", lags=2, n_iter=3).fit(y)
    for (j1, v1, l1, r1), (j2, v2, l2, r2) in zip(
        exact.state["stumps"], snapped.state["stumps"]
    ):
        assert j1 == j2 and abs(v1 - v2) < 1e-12
        assert abs(l1 - l2) < 1e-9 and abs(r1 - r2) < 1e-9


def test_gbt_native_params_synapse_translation():
    """ADVICE r6: SynapseML's LightGBMRegressor is a camelCase Spark ML
    Params wrapper, NOT lgb.train — native snake_case kwargs must be
    translated (or routed through passThroughArgs), never forwarded
    verbatim, and backbone-folded aliases must not produce duplicate
    param pairs."""
    from functime_spark.forecasting.tree import lightgbm, xgboost
    from functime_spark.panel import Panel

    panel = Panel(entity="entity", time="t", values=("y",))
    with pytest.warns(UserWarning, match="no MLlib GBT equivalent"):
        fc = lightgbm(
            freq="1h",
            lags=2,
            num_iterations=30,
            learning_rate=0.2,
            num_leaves=15,
            feature_fraction=0.8,
            min_data_in_leaf=5,
            lambda_l1=0.1,
            force_row_wise=True,  # no Synapse param -> passThroughArgs
        )
    fc.state["panel"] = panel
    params = fc._native_params()
    # every key is a Synapse camelCase param; no native snake_case leaks
    assert "num_iterations" not in params and "feature_fraction" not in params
    assert params["numIterations"] == 30
    assert params["learningRate"] == 0.2
    assert params["numLeaves"] == 15
    assert params["featureFraction"] == 0.8
    assert params["minDataInLeaf"] == 5
    assert params["lambdaL1"] == 0.1
    assert params["passThroughArgs"] == "force_row_wise=True"
    # learning_rate was folded into the backbone AND maps to the same
    # camelCase key — exactly one learningRate reaches the constructor
    assert sum(1 for k in params if k.lower() == "learningrate") == 1

    with pytest.warns(UserWarning):
        xfc = xgboost(
            freq="1h",
            lags=2,
            num_boost_round=40,
            eta=0.3,
            subsample=0.9,
            nthread=8,  # constructor-rejected -> dropped with warning
        )
    xfc.state["panel"] = panel
    with pytest.warns(UserWarning, match="SparkXGBRegressor manages"):
        xparams = xfc._native_params()
    assert "num_boost_round" not in xparams and "eta" not in xparams
    assert xparams["n_estimators"] == 40
    assert xparams["learning_rate"] == 0.3
    assert xparams["subsample"] == 0.9
    assert "nthread" not in xparams


def test_gbt_colsample_range_check():
    """ADVICE r6: out-of-range column-subsample fractions must raise
    the promised ValueError at translation time, not surface as an
    MLlib featureSubsetStrategy parse error mid-fit."""
    import math

    from functime_spark.forecasting.tree import translate_gbt_params

    for bad in (0.0, -0.2, 1.5, math.nan):
        with pytest.raises(ValueError, match="numeric fraction"):
            translate_gbt_params({"feature_fraction": bad})
    with pytest.raises(ValueError, match="numeric fraction"):
        translate_gbt_params({"colsample_bytree": "not-a-number"})
    _, extra, _ = translate_gbt_params({"feature_fraction": 0.7})
    assert extra["featureSubsetStrategy"] == "0.7"


def test_knn_scale_wall_warn_and_auto_route(spark):
    """VERDICT r6 #5: the 100x stress measured the brute kNN recursion
    bandwidth-bound at ~6e10 distance evals while IVF delivered 2.6x —
    a user crossing the documented bound must get the designed path,
    not the wall: default policy WARNS naming `ann`/auto;
    on_scale_wall='auto' builds the IVF structures once and probes."""
    import warnings

    import numpy as np

    from functime_spark.forecasting.knn import knn

    rng = np.random.default_rng(3)
    rows = [
        (e, int(t), float(v))
        for e in ("a", "b", "c")
        for t, v in enumerate(np.abs(rng.normal(10, 3, 60)))
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")

    # small data: no warning under the default 1e9 bound
    fc = knn(freq="1i", lags=3, n_neighbors=2).fit(y)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        base = fc.predict(3).toPandas().sort_values(["entity", "t"])

    # force the bound under this tiny workload: default policy warns
    fc.SCALE_WALL_EVALS = 1.0
    with pytest.warns(UserWarning, match="bandwidth wall"):
        fc.predict(3).count()

    # auto policy re-routes through IVF silently and caches the build
    fc_auto = knn(freq="1i", lags=3, n_neighbors=2, on_scale_wall="auto").fit(y)
    fc_auto.SCALE_WALL_EVALS = 1.0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        routed = fc_auto.predict(3).toPandas().sort_values(["entity", "t"])
    assert "ivf" in fc_auto.state
    assert len(routed) == len(base) and routed["y"].notna().all()
    # IVF probes a superset-quality neighborhood: predictions stay in
    # the train range envelope like the brute path's
    lo, hi = 0.0, max(v for _, _, v in rows)
    assert routed["y"].between(lo - 1e-9, hi + 1e-9).all()

    # ignore policy stays silent and brute
    fc_ig = knn(freq="1i", lags=3, n_neighbors=2, on_scale_wall="ignore").fit(y)
    fc_ig.SCALE_WALL_EVALS = 1.0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        fc_ig.predict(3).count()
    assert "ivf" not in fc_ig.state

    with pytest.raises(ValueError, match="on_scale_wall"):
        knn(freq="1i", on_scale_wall="explode")

    # auto + non-recursive strategy: the IVF re-route doesn't exist
    # (per-horizon reference columns), so the warning must say THAT —
    # not re-suggest the 'auto' the user already passed
    fc_dir = knn(
        freq="1i", lags=3, n_neighbors=2, strategy="direct",
        max_horizons=3, on_scale_wall="auto",
    ).fit(y)
    fc_dir.SCALE_WALL_EVALS = 1.0
    with pytest.warns(UserWarning, match="recursive"):
        fc_dir.predict(3).count()
    assert "ivf" not in fc_dir.state


def test_ann_clone_and_backtest_roundtrip(spark):
    """Latent r7 find: base.backtest refits via
    type(self)(**self._init_kwargs()), but ann.__init__ rejected the
    inherited strategy/on_scale_wall keys — ann.backtest() raised
    TypeError before it ever fit. Pin the clone round-trip and a real
    2-split backtest; direct strategy stays rejected (ann is
    recursive-only, like the reference's IVF forecaster)."""
    import numpy as np

    from functime_spark.forecasting.knn import ann

    rng = np.random.default_rng(9)
    rows = [
        (e, int(t), float(v))
        for e in ("a", "b")
        for t, v in enumerate(np.abs(rng.normal(10, 3, 40)))
    ]
    y = spark.createDataFrame(rows, "entity string, t long, y double")
    fc = ann(freq="1i", lags=3, n_neighbors=2, n_cells=4)
    clone = type(fc)(**fc._init_kwargs())
    assert clone.n_cells == 4 and clone.on_scale_wall == "warn"
    bt = fc.backtest(y, test_size=3, n_splits=2).toPandas()
    assert len(bt) == 2 * 2 * 3 and bt["y"].notna().all()
    with pytest.raises(ValueError, match="recursive"):
        ann(freq="1i", strategy="direct", max_horizons=3)


def _naive_i():
    from functime_spark.forecasting.naive import naive

    return naive(freq="1i")


# non-default values for every parameter each exported forecaster
# names (target_transform aside: backtest shares the instance itself)
_CLONE_KWARGS = {
    "naive": {"lags": 3},
    "snaive": {"sp": 5},
    "ses": {"alpha": 0.3},
    "theta": {"alpha": 0.3},
    "holt": {"alpha": 0.4, "beta": 0.2, "phi": 0.9},
    "holt_winters": {
        "sp": 5, "alpha": 0.4, "beta": 0.2, "gamma": 0.3,
        "seasonal": "multiplicative",
    },
    "croston": {"alpha": 0.2, "variant": "sba"},
    "linear_model": {
        "lags": 5, "strategy": "direct", "max_horizons": 3,
        "fit_intercept": False, "alpha": 0.2, "l1_ratio": 0.3, "cd_iters": 7,
    },
    "lasso": {"lags": 5, "alpha": 0.2, "cd_iters": 7},
    "ridge": {"lags": 5, "strategy": "ensemble", "max_horizons": 2},
    "elastic_net": {"lags": 5, "alpha": 0.2, "l1_ratio": 0.3},
    "censored_model": {
        "lags": 5, "threshold": 1.5, "strategy": "direct", "max_horizons": 2,
        "clf_params": {"max_iter": 5},
    },
    "zero_inflated_model": {
        "lags": 5, "strategy": "ensemble", "max_horizons": 2,
        "clf_params": {"max_iter": 5},
    },
    "knn": {
        "lags": 5, "n_neighbors": 3, "max_train_rows": 500,
        "strategy": "direct", "max_horizons": 2, "on_scale_wall": "auto",
    },
    "ann": {
        "lags": 5, "n_neighbors": 3, "n_cells": 8, "n_probe": 2,
        "max_train_rows": 500, "on_scale_wall": "ignore",
    },
    "gradient_boosted_model": {
        "lags": 5, "max_iter": 7, "max_depth": 3, "step_size": 0.2,
        "num_trees": 9, "strategy": "direct", "max_horizons": 2,
    },
    "random_forest_model": {"lags": 5, "num_trees": 9, "max_depth": 3},
    "xgboost": {
        "lags": 5, "strategy": "ensemble", "max_horizons": 2,
        "n_estimators": 9, "eta": 0.2,
    },
    "lightgbm": {"lags": 5, "num_iterations": 9, "num_leaves": 7},
    "catboost": {"lags": 5, "iterations": 9, "depth": 3},
    "boosted_stumps": {
        "lags": 3, "n_iter": 2, "learning_rate": 0.3, "max_candidates": None,
    },
    "auto_linear_model": {
        "min_lags": 2, "max_lags": 6, "test_size": 2, "n_splits": 3,
        "search": "grid", "cfo_max_trials": 5,
    },
    "auto_lasso": {"min_lags": 2, "max_lags": 6, "search": "cfo"},
    "auto_ridge": {"min_lags": 2, "max_lags": 6, "fit_intercept": False},
    "auto_elastic_net": {"max_lags": 6, "cd_iters": 7},
    "auto_knn": {"max_lags": 6, "max_train_rows": 500},
    "auto_lightgbm": {"max_lags": 6, "num_trees": 9},
    "flaml_lightgbm": {"max_lags": 6, "step_size": 0.2},
    "auto_ses": {"test_size": 2, "n_splits": 3, "search": "grid"},
    "auto_holt": {"search": "cfo", "cfo_max_trials": 5},
    "auto_hw": {"sp": 5, "seasonal": "multiplicative"},
    "auto_croston": {"n_splits": 3, "variant": "sba"},
    "lasso_cv": {"lags": 4, "cfo_max_trials": 7, "search": "cfo"},
    "ridge_cv": {"lags": 4, "test_size": 2, "fit_intercept": False},
    "elastic_net_cv": {"lags": 4, "n_splits": 3, "cd_iters": 7},
    "elite": {
        "lags": 5, "sp": 5, "top_k": 1, "test_size": 2, "n_splits": 3,
        "bank": {"naive": _naive_i}, "ensemble_strategy": "lasso",
    },
}


def _exported_forecasters():
    import inspect

    import functime_spark.forecasting as fcst
    from functime_spark.forecasting.base import Forecaster

    return sorted(
        name
        for name, obj in vars(fcst).items()
        if inspect.isclass(obj) and issubclass(obj, Forecaster) and obj is not Forecaster
    )


@pytest.mark.parametrize("name", _exported_forecasters())
def test_refit_clone_keeps_constructor_values(name):
    """backtest/conformalize refit type(fc)(**fc._init_kwargs()) on
    every split: the clone must carry every constructor value —
    named parameters as attributes, native / family kwargs through
    the catch-all (a hand-copied kwarg list once dropped elite's
    bank, so its refits used the default bank)."""
    import warnings

    import functime_spark.forecasting as fcst

    cls = getattr(fcst, name)
    kw = {"freq": "1d", **_CLONE_KWARGS[name]}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # native-param translation notes
        fc = cls(**kw)
        clone = type(fc)(**fc._init_kwargs())
    assert type(clone) is cls
    clone_kw = clone._init_kwargs()
    for key, want in kw.items():
        got = getattr(clone, key) if hasattr(clone, key) else clone_kw[key]
        assert got == want, (name, key, got, want)


def test_elite_custom_bank_backtest_refits_that_bank(spark):
    """elite(bank={naive}) with top_k=1 blends exactly the naive
    forecast, so its backtest must equal naive's own backtest; a refit
    on the default bank would pick snaive on this weekly pattern."""
    from functime_spark.forecasting.elite import elite

    rows = [
        (e, t, float(10 * e + (t % 7) ** 2 + 0.1 * t))
        for e in (1, 2)
        for t in range(30)
    ]
    y = spark.createDataFrame(rows, "entity int, t long, y double")
    kw = {"test_size": 2, "n_splits": 2}
    got = _pdf(
        elite(freq="1i", bank={"naive": _naive_i}, top_k=1).backtest(y, **kw),
        ("split", "entity", "t"),
    )
    want = _pdf(_naive_i().backtest(y, **kw), ("split", "entity", "t"))
    assert len(got) == 2 * 2 * 2
    assert got[["split", "entity", "t"]].equals(want[["split", "entity", "t"]])
    np.testing.assert_allclose(got["y"].to_numpy(), want["y"].to_numpy())


def test_holt_vs_numpy(events, events_pdf):
    """holt (r10): the weighted-sum (M-power) formulation must equal
    the LITERAL level/trend recursion, per entity, for both classic
    (phi=1) and damped trend; degenerate one-point series fall back
    to the flat naive; bad constants raise; base-class backtest
    composes."""
    from functime_spark.forecasting.holt import holt

    def recursion(yv, a, b, phi):
        l, t = yv[0], (yv[1] - yv[0] if len(yv) > 1 else 0.0)
        for v in yv[1:]:
            l_new = a * v + (1 - a) * (l + phi * t)
            t = b * (l_new - l) + (1 - b) * phi * t
            l = l_new
        return l, t

    for a, bb, phi in ((0.5, 0.25, 1.0), (0.4, 0.3, 0.9)):
        fc = holt(freq="1h", alpha=a, beta=bb, phi=phi).fit(events)
        pred = _pdf(fc.predict(3))
        for uid, grp in events_pdf.sort_values("ts").groupby("user_id"):
            yv = grp["value"].to_numpy(dtype=float)
            l, t = recursion(yv, a, bb, phi)
            want = []
            damp = 0.0
            for h in range(1, 4):
                damp = h if phi == 1.0 else damp + phi**h
                want.append(l + damp * t)
            got = (
                pred[pred["user_id"] == uid]
                .sort_values("ts")["value"]
                .to_numpy()
            )
            np.testing.assert_allclose(got, want, rtol=1e-8)

    # degenerate single-observation entity -> flat naive
    import datetime as _dt

    one = events.sparkSession.createDataFrame(
        [("solo", _dt.datetime(2024, 1, 1), 7.0)],
        "user_id string, ts timestamp, value double",
    )
    p = _pdf(holt(freq="1h").fit(one).predict(2))
    np.testing.assert_allclose(p["value"].to_numpy(), [7.0, 7.0])

    with pytest.raises(ValueError, match="alpha"):
        holt(freq="1h", alpha=0.0)
    with pytest.raises(ValueError, match="phi"):
        holt(freq="1h", phi=1.5)

    bt = holt(freq="1h").backtest(events, test_size=3, n_splits=2)
    assert bt.count() > 0 and "split" in bt.columns


def test_holt_winters_vs_numpy(events, events_pdf):
    """holt_winters (r10): per-entity fit matches a literal numpy
    recursion (classical two-cycle init), forecasts wrap the seasonal
    index past one cycle, short series and bad constants raise, and
    backtest composes."""
    from functime_spark.forecasting.hw import holt_winters

    m, a, be, g, fh = 24, 0.3, 0.1, 0.2, 26
    fc = holt_winters(freq="1h", sp=m, alpha=a, beta=be, gamma=g).fit(events)
    pred = _pdf(fc.predict(fh))
    for uid, grp in events_pdf.sort_values("ts").groupby("user_id"):
        yv = grp["value"].to_numpy(dtype=float)
        lvl = yv[:m].mean()
        trd = (yv[m:2 * m].mean() - yv[:m].mean()) / m
        seas = list(yv[:m] - lvl)
        for t in range(m, len(yv)):
            s_tm = seas[t - m]
            l_new = a * (yv[t] - s_tm) + (1 - a) * (lvl + trd)
            seas.append(g * (yv[t] - lvl - trd) + (1 - g) * s_tm)
            trd = be * (l_new - lvl) + (1 - be) * trd
            lvl = l_new
        tail = seas[-m:]
        want = [
            lvl + h * trd + tail[(h - 1) % m] for h in range(1, fh + 1)
        ]
        got = (
            pred[pred["user_id"] == uid].sort_values("ts")["value"].to_numpy()
        )
        np.testing.assert_allclose(got, want, rtol=1e-9)

    with pytest.raises(ValueError, match="gamma"):
        holt_winters(freq="1h", sp=4, gamma=1.0)
    with pytest.raises(ValueError, match="sp"):
        holt_winters(freq="1h", sp=1)
    with pytest.raises(ValueError, match="observations per"):
        short = events.limit(30)
        holt_winters(freq="1h", sp=24).fit(short)

    bt = holt_winters(freq="1h", sp=4).backtest(
        events, test_size=3, n_splits=2
    )
    assert bt.count() > 0 and "split" in bt.columns


def test_holt_winters_multiplicative_vs_numpy(events, events_pdf):
    """holt_winters(seasonal='multiplicative') (r11): the classic
    Winters ratio recursion matches a literal numpy replay; forecasts
    combine (l + h*b) * s; nonpositive data raises at direct fit and
    drops in backtest."""
    from functime_spark.forecasting.hw import holt_winters

    m, a, be, g, fh = 24, 0.3, 0.1, 0.2, 26
    fc = holt_winters(
        freq="1h", sp=m, alpha=a, beta=be, gamma=g, seasonal="multiplicative"
    ).fit(events)
    pred = _pdf(fc.predict(fh))
    for uid, grp in events_pdf.sort_values("ts").groupby("user_id"):
        yv = grp["value"].to_numpy(dtype=float)
        lvl = yv[:m].mean()
        trd = (yv[m:2 * m].mean() - yv[:m].mean()) / m
        seas = list(yv[:m] / lvl)
        for t in range(m, len(yv)):
            s_tm = seas[t - m]
            l_new = a * (yv[t] / s_tm) + (1 - a) * (lvl + trd)
            seas.append(g * (yv[t] / l_new) + (1 - g) * s_tm)
            trd = be * (l_new - lvl) + (1 - be) * trd
            lvl = l_new
        tail = seas[-m:]
        want = [
            (lvl + h * trd) * tail[(h - 1) % m] for h in range(1, fh + 1)
        ]
        got = (
            pred[pred["user_id"] == uid].sort_values("ts")["value"].to_numpy()
        )
        np.testing.assert_allclose(got, want, rtol=1e-9)

    with pytest.raises(ValueError, match="seasonal"):
        holt_winters(freq="1h", sp=4, seasonal="robust")

    import datetime as dt

    spark = events.sparkSession
    withzero = spark.createDataFrame(
        [
            ("z", dt.datetime(2024, 1, 1) + dt.timedelta(hours=t),
             0.0 if t == 3 else float(t + 1))
            for t in range(12)
        ],
        "user_id string, ts timestamp, value double",
    )
    with pytest.raises(ValueError, match="positive"):
        holt_winters(freq="1h", sp=4, seasonal="multiplicative").fit(withzero)
    panel = events.select("user_id", "ts", "value").unionByName(withzero)
    bt = holt_winters(freq="1h", sp=4, seasonal="multiplicative").backtest(
        panel, test_size=3, n_splits=2
    )
    pdf = bt.toPandas()
    assert len(pdf) > 0 and "z" not in set(pdf["user_id"])


def test_hw_backtest_short_entity_drops(events):
    """ADVICE r10: a panel entity shorter than 2*sp must drop out of
    backtest splits (emitting no state rows) instead of aborting the
    whole backtest; direct fit keeps the raise."""
    import datetime as dt

    from functime_spark.forecasting.hw import holt_winters

    spark = events.sparkSession
    short = spark.createDataFrame(
        [
            ("tiny", dt.datetime(2024, 1, 1) + dt.timedelta(hours=t), float(t))
            for t in range(6)
        ],
        "user_id string, ts timestamp, value double",
    )
    panel = events.select("user_id", "ts", "value").unionByName(short)
    bt = holt_winters(freq="1h", sp=4).backtest(panel, test_size=3, n_splits=2)
    pdf = bt.toPandas()
    assert len(pdf) > 0
    assert "tiny" not in set(pdf["user_id"])
    with pytest.raises(ValueError, match="observations per"):
        holt_winters(freq="1h", sp=4).fit(short)


def test_holt_oracle_covers_n1_entity(spark):
    """ADVICE r10: the forecast_holt oracle LEFT JOINs the t=2 row and
    coalesces b to 0, so a single-observation entity stays in the
    oracle's entity set with the same flat forecast the engine's
    degenerate (l=y1, b=0) branch emits."""
    import datetime as dt

    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from functime_spark.forecasting.holt import holt

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("a", base + dt.timedelta(hours=t), float(10 + 3 * t)) for t in range(5)
    ] + [("solo", base, 7.0)]
    y = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    pred = (
        holt(freq="1h", alpha=0.5, beta=0.25, phi=1.0)
        .fit(y)
        .predict(4)
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows, columns=["user_id", "ts", "value"]))
    ora = (
        con.execute(entrymod.oracle_sql()["forecast_holt"])
        .df()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    assert list(ora["user_id"]) == list(pred["user_id"])
    np.testing.assert_allclose(
        ora["value"].to_numpy(), pred["value"].round(6).to_numpy(), atol=2e-6
    )
    assert (ora[ora["user_id"] == "solo"]["value"] == 7.0).all()


def test_croston_vs_numpy(events, events_pdf):
    """croston (r10): the closed-form twin-SES levels must equal the
    literal Croston recursion on the demand/interval sequences of a
    planted intermittent series; SBA applies the (1 - a/2) factor;
    all-zero series forecast 0; bad params raise."""
    from functime_spark.forecasting.croston import croston

    spark = events.sparkSession
    import datetime as _dt

    rng = np.random.default_rng(5)
    rows = []
    for e in ("x", "y"):
        for t in range(40):
            v = float(rng.integers(1, 9)) if rng.random() < 0.3 else 0.0
            rows.append((e, _dt.datetime(2024, 1, 1) + _dt.timedelta(hours=t), v))
    for t in range(40):  # all-zero entity
        rows.append(("z", _dt.datetime(2024, 1, 1) + _dt.timedelta(hours=t), 0.0))
    y = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    pdf = {
        e: [r[2] for r in rows if r[0] == e] for e in ("x", "y", "z")
    }

    a = 0.2
    for variant, bias in (("croston", 1.0), ("sba", 1.0 - a / 2)):
        fc = croston(freq="1h", alpha=a, variant=variant).fit(y)
        pred = _pdf(fc.predict(3))
        for e in ("x", "y", "z"):
            yv = pdf[e]
            zs, ps, last = [], [], 0
            for i, v in enumerate(yv, start=1):
                if v != 0.0:
                    zs.append(v)
                    ps.append(float(i - last))
                    last = i
            if zs:
                lz, lp = zs[0], ps[0]
                for zv, pv in zip(zs[1:], ps[1:]):
                    lz = a * zv + (1 - a) * lz
                    lp = a * pv + (1 - a) * lp
                want = bias * lz / lp
            else:
                want = 0.0
            got = (
                pred[pred["user_id"] == e].sort_values("ts")["value"].to_numpy()
            )
            np.testing.assert_allclose(got, [want] * 3, rtol=1e-9)

    with pytest.raises(ValueError, match="alpha"):
        croston(freq="1h", alpha=1.0)
    with pytest.raises(ValueError, match="variant"):
        croston(freq="1h", variant="bogus")

    bt = croston(freq="1h").backtest(y, test_size=3, n_splits=2)
    assert bt.count() > 0 and "split" in bt.columns


def test_ses_vs_numpy(events, events_pdf):
    """ses (r10): the closed-form weighted level equals the literal
    SES recursion per entity; forecasts are flat; bad alpha raises."""
    from functime_spark.forecasting.ses import ses

    a = 0.3
    fc = ses(freq="1h", alpha=a).fit(events)
    pred = _pdf(fc.predict(3))
    for uid, grp in events_pdf.sort_values("ts").groupby("user_id"):
        yv = grp["value"].to_numpy(dtype=float)
        lvl = yv[0]
        for v in yv[1:]:
            lvl = a * v + (1 - a) * lvl
        got = pred[pred["user_id"] == uid].sort_values("ts")["value"].to_numpy()
        np.testing.assert_allclose(got, [lvl] * 3, rtol=1e-9)

    with pytest.raises(ValueError, match="alpha"):
        ses(freq="1h", alpha=0.0)
