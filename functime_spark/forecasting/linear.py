"""Global linear AR forecasters: linear_model / lasso / ridge / elastic_net.

Mirrors functime forecasting/linear.py:10-203 via one MLlib
LinearRegression parameterization (sklearn alpha → MLlib regParam;
l1_ratio → elasticNetParam). Strategies: recursive (default), direct,
ensemble (mean of both — ref _ar.py:337-374).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from functime_spark.forecasting._ar import (
    LinearBackend,
    make_reduction,
    make_y_lag,
    mean_ensemble,
    predict_from_lags,
    predict_recursive_linear,
)
from functime_spark.forecasting.base import Forecaster


def _direct_step(payload):
    """Direct strategy step: horizon h applies model_h (the last model
    past max_horizons) to the last observed lags."""
    models, lags = payload

    def step(feats, x_h, h):
        w, b = models[min(h, len(models) - 1)]
        yhat = feats @ w[:lags] + b
        if x_h is not None:
            yhat = yhat + x_h @ w[lags:]
        return yhat

    return step


class linear_model(Forecaster):
    _reg_param = 0.0
    _elastic_net_param = 0.0

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        fit_intercept: bool = True,
        alpha: float | None = None,
        l1_ratio: float | None = None,
        cd_iters: int | None = None,
        target_transform=None,
    ):
        super().__init__(freq=freq, lags=lags, target_transform=target_transform)
        self.strategy = strategy
        self.max_horizons = max_horizons
        self.fit_intercept = fit_intercept
        self.alpha = alpha
        self.l1_ratio = l1_ratio
        self.cd_iters = cd_iters
        if strategy in ("direct", "ensemble") and max_horizons is None:
            raise ValueError("direct/ensemble strategy requires max_horizons")

    def _backend(self) -> LinearBackend:
        reg = self.alpha if self.alpha is not None else self._reg_param
        l1 = self.l1_ratio if self.l1_ratio is not None else self._elastic_net_param
        return LinearBackend(
            reg_param=reg,
            elastic_net_param=l1,
            fit_intercept=self.fit_intercept,
            cd_iters=self.cd_iters,
        )

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        backend = self._backend()
        # exogenous feature columns ride along in the design matrix
        # (ref make_reduction _reduction.py:32-34 keeps X columns)
        x_cols = list(X.columns[2:]) if X is not None else []
        self.state["x_cols"] = x_cols
        if self.strategy in ("recursive", "ensemble"):
            # normal-equation fits read the design exactly once — a
            # persist would pay a cache-write for no reuse
            design = make_reduction(y, self.lags, X)
            if not backend.single_pass:
                design = design.persist()
            feature_cols = [
                f"{p.target}__lag_{k}" for k in range(1, self.lags + 1)
            ] + x_cols
            self.state["recursive_model"] = backend.fit(design, feature_cols, p.target)
            if not backend.single_pass:
                design.unpersist()
        if self.strategy in ("direct", "ensemble"):
            # horizon h model: features lag_h .. lag_{h+lags-1}
            # (ref fit_direct _ar.py:53-80)
            design = make_reduction(y, self.lags + self.max_horizons - 1, X).persist()
            models = []
            for h in range(1, self.max_horizons + 1):
                cols = [
                    f"{p.target}__lag_{j}" for j in range(h, self.lags + h)
                ] + x_cols
                models.append(backend.fit(design, cols, p.target))
            self.state["direct_models"] = models
            design.unpersist()
        self.state["y_lag"] = make_y_lag(y, self.lags).persist()

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        y_lag = self._future_state(fh, X)
        n_x = len(self.state.get("x_cols") or [])
        preds = None
        if self.strategy in ("recursive", "ensemble"):
            coef, b = self.state["recursive_model"]
            preds = predict_recursive_linear(y_lag, coef, b, fh, self.lags, n_x=n_x)
        if self.strategy in ("direct", "ensemble"):
            d = predict_from_lags(
                y_lag,
                fh,
                self.lags,
                (self.state["direct_models"], self.lags),
                _direct_step,
                recursive=False,
            )
            # ensemble = mean of recursive + direct (ref _ar.py:357-371)
            preds = d if preds is None else mean_ensemble(preds, d)
        return preds


class lasso(linear_model):
    """L1; sklearn Lasso default alpha=1.0 (ref linear.py:62-96)."""

    _reg_param = 1.0
    _elastic_net_param = 1.0


class ridge(linear_model):
    """L2; sklearn Ridge default alpha=1.0 (ref linear.py:99-133)."""

    _reg_param = 1.0
    _elastic_net_param = 0.0


class elastic_net(linear_model):
    """Mixed L1/L2 (ref linear.py:136-170)."""

    _reg_param = 1.0
    _elastic_net_param = 0.5
