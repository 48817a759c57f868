"""Forecaster base class: fit / predict / backtest / conformalize.

Mirrors functime base/forecaster.py:88-361. State is a small bundle of
driver-held DataFrames: `cutoffs` (entity, low = max time — ref
forecaster.py:196-199) plus whatever the concrete forecaster stores
(last values, lag buffers, fitted model params).

The reference's entity string-cache (model.py:10-44) is skipped:
Tungsten handles string group keys natively (SURVEY §4.2).
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.panel import panel_cols
from functime_spark.serialize import SparkStatePickleMixin
from functime_spark.materialize import materialize as _materialize


class Forecaster(SparkStatePickleMixin):
    """Base of every forecaster. Subclasses follow two conventions:

    - Every constructor parameter is stored under its own name, and a
      ``**`` catch-all under the catch-all's name (sklearn's
      get_params rule). `_init_kwargs` reads the constructor
      signature back off the instance, so the refit clones of
      backtest / conformalize carry the exact configuration.
    - `_fit` does not set `cutoffs`. When exactly one other state
      frame carries a `low` column (make_y_lag's recursion state, a
      smoothing forecaster's per-entity state), `fit` makes cutoffs
      that frame's (entity, low) projection, so predict's future
      ranges read n_entities fitted rows instead of re-aggregating
      the panel; otherwise the lazy panel aggregate stays.
    """

    # exogenous-coverage policy consumed by attach_future_x at the
    # _predict_values call sites: "raise" (eager check, direct predict)
    # or "drop" (backtest — short entities skip the split, no extra job)
    _x_on_short = "raise"

    def __init__(self, freq: str, lags: int = 1, target_transform=None):
        self.freq = freq
        self.lags = lags
        self.target_transform = target_transform
        self.state: dict = {}

    # -- lifecycle ----------------------------------------------------
    def fit(self, y: DataFrame, X: DataFrame | None = None):
        p = panel_cols(y)
        if len(p.values) != 1:
            raise ValueError(f"y must have exactly 3 columns, got {y.columns}")
        if self.target_transform is not None:
            y = self.target_transform.transform(y)
        self.state["panel"] = p
        self.state["cutoffs"] = (
            y.groupBy(p.entity).agg(F.max(p.time).alias("low"))
        )
        self._fit(y, X)
        lows = [
            v
            for k, v in self.state.items()
            if k != "cutoffs" and isinstance(v, DataFrame) and "low" in v.columns
        ]
        if len(lows) == 1:
            self.state["cutoffs"] = lows[0].select(p.entity, "low")
        return self

    def predict(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        y_pred = self._predict(fh, X)
        if self.target_transform is not None:
            y_pred = self.target_transform.invert(y_pred)
        return y_pred

    def _predict(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        """Default: stitch per-step values onto freq-generated future
        timestamps. Subclasses implement `_predict_values`."""
        from functime_spark.forecasting.ranges import (
            explode_future_ranges,
            make_future_ranges,
        )

        p = self.state["panel"]
        futures = make_future_ranges(self.state["cutoffs"], fh, self.freq, p.time)
        rows = explode_future_ranges(futures)
        vals = self._predict_values(fh, X)
        return rows.join(vals, on=[p.entity, "step"], how="inner").select(
            p.entity, p.time, F.col("__yhat").alias(p.target)
        )

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        """(entity, step, __yhat) with step 0-based — timestamp-free
        predictions, used by both predict() and backtest()."""
        raise NotImplementedError

    def _future_state(self, fh: int, X: DataFrame | None) -> DataFrame:
        """The lag-buffer recursion state, with X_future's exogenous
        arrays attached when the forecaster was fit with X."""
        from functime_spark.forecasting._ar import attach_future_x

        state = self.state["y_lag"]
        x_cols = self.state.get("x_cols") or []
        if x_cols:
            if X is None:
                raise ValueError(
                    "forecaster was fit with exogenous X; predict needs X_future"
                )
            state = attach_future_x(state, X, x_cols, fh, on_short=self._x_on_short)
        return state

    def __call__(self, y: DataFrame, fh: int, X: DataFrame | None = None, X_future: DataFrame | None = None) -> DataFrame:
        return self.fit(y, X).predict(fh, X_future)

    # -- subclass hooks ----------------------------------------------
    def _fit(self, y: DataFrame, X: DataFrame | None = None):  # pragma: no cover
        raise NotImplementedError

    def _materialize_state(self) -> None:
        """localCheckpoint every DataFrame in the fitted state.

        All state frames are n_entities-scale aggregates (last values,
        seasonal tails, lag buffers, cutoffs); materializing them cuts
        downstream prediction plans from re-deriving each aggregate off
        the full panel to reading a cached block. Ensemble callers
        (elite) use this so a bank of k models doesn't re-scan the
        panel k times per predict."""
        for key, val in self.state.items():
            if isinstance(val, DataFrame):
                self.state[key] = _materialize(val)

    # -- evaluation --------------------------------------------------
    def backtest(
        self,
        y: DataFrame,
        test_size: int = 1,
        step_size: int = 1,
        n_splits: int = 5,
        window_size: int | None = None,
        X: DataFrame | None = None,
    ) -> DataFrame:
        """Expanding/sliding-window refit-and-predict; returns stacked
        predictions with a `split` column. Ref backtesting.py:108-250.

        Predictions are aligned to the ACTUAL test timestamps (per-entity
        step join), so irregular panels backtest correctly — the
        reference assumes freq-regular series here.

        The stacked result is always localCheckpoint-ed: it is tiny
        (n_splits x n_entities x test_size rows) while its lineage embeds
        n_splits window-split + refit subtrees. Materializing cuts every
        downstream plan (conformalize / rank / elite) from ~20 re-scans
        of the source panel to zero, and pins the values: re-executions
        of the un-truncated lineage tripped a false broadcast-exchange
        reuse in the deep union-of-joins plan (session-sticky row
        duplication — every output row matched a second, column-swapped
        quantile row; spark.sql.exchange.reuse=false confirmed the
        diagnosis)."""
        from pyspark.sql import Window

        from functime_spark.operators.cross_validation import _annotate, _window_split

        p = panel_cols(y)
        # annotate (per-entity row index + length) ONCE and cache it:
        # every split's train AND test is a cheap filter on this frame,
        # so the whole backtest pays one window+shuffle pass over the
        # panel instead of 2*n_splits.
        ann = _annotate(y)
        annotated = (ann[0].persist(), ann[1])
        splits = _window_split(
            y, test_size, n_splits, step_size, window_size, annotated=annotated
        )
        preds = []
        for i, (train, test) in splits.items():
            # refits share self.target_transform (fit-on-transform
            # resets its state each split; the loop is sequential, so
            # each split's invert sees that split's fitted params);
            # set it explicitly for forecasters whose constructor does
            # not take one
            fitted = type(self)(**self._init_kwargs())
            fitted.target_transform = self.target_transform
            # short-coverage entities (series shorter than this split's
            # test window, or too short for a forecaster's init — e.g.
            # holt_winters' two-cycle requirement) drop out of the
            # split instead of aborting the backtest — irregular
            # panels are supported here. Set BEFORE fit so _fit
            # implementations can honor the drop convention too.
            fitted._x_on_short = "drop"
            # X joins the train design on (entity, time), so passing the
            # full exogenous panel is safe; the predict side must see
            # ONLY the test-time rows (attach_future_x slices the
            # earliest fh rows of whatever it is given)
            fitted.fit(train, X)
            X_test = (
                X.join(
                    test.select(p.entity, p.time), on=[p.entity, p.time], how="left_semi"
                )
                if X is not None
                else None
            )
            vals = fitted._predict_values(test_size, X_test)
            step = (
                F.row_number().over(Window.partitionBy(p.entity).orderBy(p.time)) - 1
            )
            test_idx = test.withColumn("step", step)
            y_pred = test_idx.join(vals, on=[p.entity, "step"], how="inner").select(
                p.entity, p.time, F.col("__yhat").alias(p.target)
            )
            if fitted.target_transform is not None:
                y_pred = fitted.target_transform.invert(y_pred)
            preds.append(y_pred.withColumn("split", F.lit(i)))
        out = preds[0]
        for nxt in preds[1:]:
            out = out.unionByName(nxt)
        # eager: runs while the annotated frame is still cached
        out = _materialize(out)
        annotated[0].unpersist()
        return out

    def conformalize(
        self,
        y: DataFrame,
        fh: int,
        alphas: list | None = None,
        test_size: int = 1,
        n_splits: int = 3,
        X: DataFrame | None = None,
        X_future: DataFrame | None = None,
    ) -> DataFrame:
        """ENBPI-style conformal intervals. Reference semantics
        (conformal.py:6-74): residual = actual - pred (backtesting.py:36
        ``y_train - y_pred``), each alpha is a DIRECT residual-quantile
        level — one output row per alpha, labeled ``int(alpha*100)``
        (conformal.py:70-72) — and quantile-adjusted rows cover BOTH
        the future point forecast and the backtest predictions
        (conformal.py:52-63). Documented divergence: residuals are
        out-of-sample backtest residuals (the reference replays
        in-sample refit residuals); quantiles interpolate linearly
        (the reference's Polars default is nearest)."""
        alphas = alphas or [0.1, 0.9]
        p = panel_cols(y)
        # backtest() localCheckpoints its (tiny) result; quantiles and the
        # point forecast are likewise n_entities-scale, so materializing
        # them keeps the final plan free of the panel-rescanning lineage
        # (and of the false-exchange-reuse duplication — see backtest()).
        y_preds = self.backtest(y, test_size=test_size, n_splits=n_splits, X=X)
        target = y_preds.columns[2]
        actual = y.withColumnRenamed(p.target, "__actual")
        resid = (
            y_preds.join(actual, on=[p.entity, p.time], how="inner")
            .withColumn("__resid", F.col("__actual") - F.col(target))
        )
        q_aggs = [
            F.percentile("__resid", F.lit(a)).alias(f"__q_{_akey(a)}")
            for a in alphas
        ]
        quantiles = _materialize(resid.groupBy(p.entity).agg(*q_aggs))
        y_point = _materialize(self.fit(y, X).predict(fh, X_future))
        combined = y_point.select(p.entity, p.time, target).unionByName(
            y_preds.select(p.entity, p.time, target)
        )
        out = combined.join(F.broadcast(quantiles), on=p.entity, how="left")
        # one posexplode pass, not an n_alphas-way self-union: a single
        # scan of `out` emits every (quantile-adjusted value, label) pair
        pairs = F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col(target) + F.col(f"__q_{_akey(a)}")).alias(target),
                        F.lit(int(round(a * 100))).alias("quantile"),
                    )
                    for a in alphas
                ]
            )
        ).alias("__pair")
        return out.select(p.entity, p.time, pairs).select(
            p.entity, p.time, f"__pair.{target}", "__pair.quantile"
        )

    def _init_kwargs(self) -> dict:
        """Constructor kwargs that rebuild this configuration: each
        named parameter read from the attribute of the same name, plus
        the ``**`` catch-all's contents from the attribute named like
        the catch-all (none when no such attribute exists). Values are
        shared, not copied — target_transform included."""
        kw = {}
        sig = inspect.signature(type(self).__init__)
        for name, param in list(sig.parameters.items())[1:]:
            if param.kind is param.VAR_KEYWORD:
                kw.update(getattr(self, name, {}))
            else:
                kw[name] = getattr(self, name)
        return kw


def _akey(a: float) -> str:
    return str(a).replace(".", "_")
