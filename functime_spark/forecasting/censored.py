"""Censored / zero-inflated forecasters.

Mirrors functime forecasting/censored.py:32-118 + _regressors.py
CensoredRegressor (:100-148): a binary classifier predicts
P(y > threshold) on the lag features, two regressors fit the
above-/below-threshold subsets, and the forecast blends them:

    yhat = P(above) * f_above(X)  [+ P(below) * f_below(X) if threshold != 0]

Spark-first split:

- the classifier is a distributed MLlib ``LogisticRegression`` over the
  lag design matrix (one shuffle, JVM-side IRLS/L-BFGS) — the reference
  collects to a single-node ``HistGradientBoostingClassifier``;
- the two regressors are :class:`LinearBackend` normal-equation fits on
  the filtered subsets (same scan, two aggregate passes);
- multi-step prediction is the shared lag-buffer kernel
  (`_ar.predict_from_lags`): the logistic + two linear coefficient
  vectors are broadcast and the per-step blend is closed-form numpy,
  so fh steps cost zero extra Spark jobs.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting._ar import (
    LinearBackend,
    make_reduction,
    make_y_lag,
    mean_ensemble,
    predict_from_lags,
)
from functime_spark.forecasting.base import Forecaster


def _fit_logistic(
    design: DataFrame,
    feature_cols: list,
    label_col: str,
    clf_params: dict | None = None,
):
    """Distributed logistic fit -> (coef, intercept) numpy arrays.

    `clf_params` overrides the MLlib LogisticRegression config. The
    default (regParam=1e-6) is the robust production choice; the
    correctness gate passes regParam=0, standardization=False,
    tol=1e-12 so the optimum is the exact MLE — which the DuckDB
    oracle recomputes independently via Newton-IRLS in a recursive
    CTE and matches to ~1e-10."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    assembled = VectorAssembler(
        inputCols=feature_cols, outputCol="__features", handleInvalid="skip"
    ).transform(design)
    params = {"regParam": 1e-6, **(clf_params or {})}
    polish = int(params.pop("polish_newton", 0))
    lr = LogisticRegression(
        featuresCol="__features", labelCol=label_col, **params
    )
    model = lr.fit(assembled)
    coef = np.asarray(model.coefficients.toArray(), dtype="float64")
    intercept = float(model.intercept)
    for _ in range(polish):
        coef, intercept = _newton_step(design, feature_cols, label_col, coef, intercept)
    return coef, intercept


def _newton_step(design, feature_cols, label_col, coef, intercept):
    """One exact Newton step on the UNregularized logistic loss:
    gradient X'(p-y) and Hessian X'WX accumulated as native Spark
    aggregates (one pass, map-side combined), (k+1)x(k+1) solve on the
    driver. L-BFGS stops at its tolerance (~1e-10 coefficient error);
    two polish steps land on the exact MLE to machine precision, which
    is what lets the DuckDB oracle replay the fit value-for-value."""
    cols = [F.col(c).cast("double") for c in feature_cols] + [F.lit(1.0)]
    z = F.lit(float(intercept))
    for w, c in zip(coef, cols):
        z = z + F.lit(float(w)) * c
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    resid = p - F.col(label_col).cast("double")
    wvar = p * (F.lit(1.0) - p)
    k = len(cols)
    aggs = [F.sum(resid * cols[i]).alias(f"g{i}") for i in range(k)]
    aggs += [
        F.sum(wvar * cols[i] * cols[j]).alias(f"h{i}_{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    row = design.agg(*aggs).first()
    g = np.array([row[f"g{i}"] for i in range(k)])
    H = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            H[i, j] = H[j, i] = row[f"h{i}_{j}"]
    step = np.linalg.solve(H, g)
    new = np.concatenate([coef, [intercept]]) - step
    return new[:-1], float(new[-1])


def _blend_step(blends):
    """Blend step: P(above) * f_above(X) [+ P(below) * f_below(X)] on
    lags (+ exogenous features); horizon h uses blends[h], the last
    blend past its length (one blend for the recursive strategy)."""

    def step(feats, x_h, h):
        if x_h is not None:
            feats = np.hstack([feats, x_h])
        (wc, bc), (wa, ba), below = blends[min(h, len(blends) - 1)]
        z = feats @ wc + bc
        prob = 1.0 / (1.0 + np.exp(-np.clip(z, -500, 500)))
        yhat = prob * (feats @ wa + ba)
        if below is not None:
            wb, bb = below
            yhat = yhat + (1.0 - prob) * (feats @ wb + bb)
        return yhat

    return step


class censored_model(Forecaster):
    """Two-regime blend around `threshold`. Ref censored.py:32-118."""

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        threshold: float = 0.0,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        target_transform=None,
        clf_params: dict | None = None,
    ):
        super().__init__(freq=freq, lags=lags, target_transform=target_transform)
        self.threshold = threshold
        self.strategy = strategy
        self.max_horizons = max_horizons
        self.clf_params = clf_params
        if strategy in ("direct", "ensemble") and max_horizons is None:
            raise ValueError("direct/ensemble strategy requires max_horizons")

    def _fit_blend(self, design: DataFrame, feature_cols: list, target: str):
        """One (classifier, above-reg, below-reg) triple."""
        thr = float(self.threshold)
        labeled = design.withColumn(
            "__above", (F.col(target) > F.lit(thr)).cast("double")
        )
        clf = _fit_logistic(labeled, feature_cols, "__above", self.clf_params)
        backend = LinearBackend()
        above = design.filter(F.col(target) > F.lit(thr))
        reg_above = backend.fit(above, feature_cols, target)
        if abs(thr) > 0:
            below = design.filter(F.col(target) <= F.lit(thr))
            reg_below = backend.fit(below, feature_cols, target)
        else:
            # zero-inflated: below-regime contributes 0 (ref
            # _regressors.py:124-132, 144-148)
            reg_below = None
        return clf, reg_above, reg_below

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        # exogenous columns join every blend's feature list (the
        # reference's censored regressors fit the full design,
        # ref censored.py:34-76)
        x_cols = list(X.columns[2:]) if X is not None else []
        self.state["x_cols"] = x_cols
        if self.strategy in ("recursive", "ensemble"):
            design = make_reduction(y, self.lags, X).persist()
            cols = [
                f"{p.target}__lag_{k}" for k in range(1, self.lags + 1)
            ] + x_cols
            self.state["blend"] = self._fit_blend(design, cols, p.target)
            design.unpersist()
        if self.strategy in ("direct", "ensemble"):
            design = make_reduction(y, self.lags + self.max_horizons - 1, X).persist()
            blends = []
            for h in range(1, self.max_horizons + 1):
                cols = [
                    f"{p.target}__lag_{j}" for j in range(h, self.lags + h)
                ] + x_cols
                blends.append(self._fit_blend(design, cols, p.target))
            self.state["direct_blends"] = blends
            design.unpersist()
        self.state["y_lag"] = make_y_lag(y, self.lags).persist()

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        state = self._future_state(fh, X)
        preds = None
        if self.strategy in ("recursive", "ensemble"):
            preds = predict_from_lags(
                state, fh, self.lags, [self.state["blend"]], _blend_step
            )
        if self.strategy in ("direct", "ensemble"):
            d = predict_from_lags(
                state,
                fh,
                self.lags,
                self.state["direct_blends"],
                _blend_step,
                recursive=False,
            )
            preds = d if preds is None else mean_ensemble(preds, d)
        return preds


class zero_inflated_model(censored_model):
    """censored_model fixed at threshold=0. Ref censored.py:121-139."""

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        target_transform=None,
        clf_params: dict | None = None,
    ):
        super().__init__(
            freq=freq,
            lags=lags,
            threshold=0.0,
            strategy=strategy,
            max_horizons=max_horizons,
            target_transform=target_transform,
            clf_params=clf_params,
        )
