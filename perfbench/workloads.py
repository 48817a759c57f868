"""Benchmark workloads: the pipelines, their numpy references and checks.

A workload is a panel shape plus the requests one client sends, in
turn, in a closed loop. ``run`` is one timed request: it reads the
generated parquet through ``sources.read_panel`` and returns the
pipeline's results to the driver. ``reference`` computes the expected
results with numpy from the generated frame (untimed), and ``check``
compares a request's results with it and returns the list of misses.

Library functions are looked up on their modules at call time
(``linear.linear_model``, ``metrics.score_forecast``, ...), so the traced
run can rebind them without touching the pipelines.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from gen import Shape

# -- numpy references -------------------------------------------------------


def _series(panel: pd.DataFrame) -> list:
    """Per-entity value arrays in entity order (the frame is sorted)."""
    ent = panel["entity"].to_numpy()
    starts = np.flatnonzero(np.r_[True, ent[1:] != ent[:-1]])
    vals = panel["value"].to_numpy()
    return [vals[a:b] for a, b in zip(starts, np.r_[starts[1:], len(vals)])]


def _pooled_ar(series: list, lags: int):
    """Pooled OLS AR(lags) with intercept over every series' lag rows."""
    xs, ys = [], []
    for s in series:
        win = np.lib.stride_tricks.sliding_window_view(s, lags + 1)
        xs.append(win[:, :lags][:, ::-1])  # lag_1 = most recent
        ys.append(win[:, lags])
    x = np.vstack(xs)
    x = np.column_stack([x, np.ones(len(x))])
    theta = np.linalg.lstsq(x, np.concatenate(ys), rcond=None)[0]
    return theta[:lags], theta[lags]


def _recursive(series: list, w: np.ndarray, b: float, fh: int) -> np.ndarray:
    """(n_series, fh) recursive forecasts from each series' tail."""
    lags = len(w)
    buf = np.vstack([s[-lags:] for s in series])
    out = np.empty((len(series), fh))
    for h in range(fh):
        out[:, h] = buf[:, ::-1] @ w + b
        buf = np.column_stack([buf[:, 1:], out[:, h]])
    return out


def _rel_err(got, want) -> float:
    got = np.asarray(got, dtype="float64")
    want = np.asarray(want, dtype="float64")
    if got.shape != want.shape:
        return float("inf")
    denom = np.maximum(np.abs(want), 1e-300)
    err = np.where(got == want, 0.0, np.abs(got - want) / denom)
    return float(np.max(err)) if err.size else 0.0


# -- workloads -------------------------------------------------------------


@dataclass
class Result:
    """What one request returns to the driver."""

    frames: dict
    scalars: dict


class ShortSeriesForecast:
    """Many short series. The client alternates two requests on the same
    panel: a global AR point forecast with its scores, then conformal
    prediction intervals from a backtest of small refits."""

    name = "short_series_forecast"
    shape = Shape(n_series=200, len_lo=80, len_hi=160)
    requests = ("forecast", "intervals")
    # forecast request
    fh = 14
    lags = 12
    # intervals request
    cp_fh = 7
    cp_lags = 7
    cp_splits = 3
    alphas = [0.1, 0.9]

    def run(self, kind, spark, path, mods, span) -> Result:
        y = mods.sources.read_panel(spark, path, "entity", "time", ["value"])
        if kind == "forecast":
            return self._forecast(y, mods, span)
        return self._intervals(y, mods, span)

    def _forecast(self, y, mods, span) -> Result:
        cv, prep, linear, metrics = mods.cv, mods.prep, mods.linear, mods.metrics
        train, test = cv.train_test_split(y, self.fh)
        model = linear.linear_model(
            freq="1d", lags=self.lags, target_transform=prep.scale()
        ).fit(train)
        y_pred = model.predict(self.fh)
        with span("perfbench.collect"):
            pred = y_pred.toPandas()
        scores = metrics.summarize_scores(metrics.score_forecast(test, y_pred, train))
        return Result({"pred": pred}, {"smape": scores["smape"]})

    def _intervals(self, y, mods, span) -> Result:
        train, _test = mods.cv.train_test_split(y, self.cp_fh)
        intervals = mods.linear.linear_model(freq="1d", lags=self.cp_lags).conformalize(
            train,
            fh=self.cp_fh,
            alphas=self.alphas,
            test_size=self.cp_fh,
            n_splits=self.cp_splits,
        )
        with span("perfbench.collect"):
            bands = intervals.toPandas()
        return Result({"bands": bands}, {})

    def reference(self, panel: pd.DataFrame) -> dict:
        series = _series(panel)
        fh = self.fh
        train = [s[:-fh] for s in series]
        test = np.vstack([s[-fh:] for s in series])
        # point forecast: per-series standardization (sample std), pooled
        # AR(lags) on the standardized values, recursive, inverted
        mu = np.array([s.mean() for s in train])
        sd = np.array([s.std(ddof=1) for s in train])
        z = [(s - m) / d for s, m, d in zip(train, mu, sd)]
        w, b = _pooled_ar(z, self.lags)
        pred = _recursive(z, w, b, fh) * sd[:, None] + mu[:, None]
        smape = np.mean(np.abs(pred - test).sum(axis=1) / (pred + test).sum(axis=1))
        # conformal: expanding backtest splits on the train part (test
        # blocks of cp_fh rows starting cp_fh + i rows from its end),
        # residual quantiles (linear interpolation) added to a
        # full-train forecast
        fh = self.cp_fh
        train = [s[:-fh] for s in series]
        test = np.vstack([s[-fh:] for s in series])
        cutoffs = [fh + i for i in range(self.cp_splits)][::-1]
        resid = []
        for cut in cutoffs:
            tr = [s[: len(s) - cut] for s in train]
            actual = np.vstack([s[len(s) - cut : len(s) - cut + fh] for s in train])
            wi, bi = _pooled_ar(tr, self.cp_lags)
            resid.append(actual - _recursive(tr, wi, bi, fh))
        resid = np.hstack(resid)
        q = np.percentile(resid, [a * 100 for a in self.alphas], axis=1).T
        wf, bf = _pooled_ar(train, self.cp_lags)
        point = _recursive(train, wf, bf, fh)
        lower, upper = point + q[:, :1], point + q[:, 1:]
        covered = int(((test >= lower) & (test <= upper)).sum())
        return {
            "pred": pred,
            "smape": float(smape),
            "lower": lower,
            "upper": upper,
            "covered": covered,
            "cp_test": test,
            "n_series": len(series),
        }

    def check(self, kind, res: Result, ref: dict) -> tuple[list, dict]:
        if kind == "forecast":
            return self._check_forecast(res, ref)
        return self._check_intervals(res, ref)

    def _check_forecast(self, res: Result, ref: dict) -> tuple[list, dict]:
        misses = []
        fh, n = self.fh, ref["n_series"]
        pred = res.frames["pred"].sort_values(["entity", "time"])
        counts = pred.groupby("entity").size()
        if len(counts) != n or (counts != fh).any():
            misses.append("forecast: not exactly fh rows for every series")
        elif not np.isfinite(pred["value"]).all():
            misses.append("forecast: non-finite values")
        elif _rel_err(pred["value"].to_numpy().reshape(n, fh), ref["pred"]) > 1e-6:
            misses.append("forecast: differs from the numpy pooled-OLS reference")
        smape = res.scalars["smape"]
        if not abs(smape - ref["smape"]) <= 1e-6:
            misses.append(f"forecast_smape {smape!r} != reference {ref['smape']!r}")
        return misses, {"forecast_smape": smape}

    def _check_intervals(self, res: Result, ref: dict) -> tuple[list, dict]:
        misses = []
        fh, n = self.cp_fh, ref["n_series"]
        bands = res.frames["bands"]
        expected_rows = n * (fh + self.cp_splits * fh) * len(self.alphas)
        if len(bands) != expected_rows:
            misses.append(f"bands: {len(bands)} rows, expected {expected_rows}")
            return misses, {}
        # each source row yields one row per alpha, all shifted by the
        # entity's residual quantile, so sorting inside (entity, time)
        # pairs every lower row with its own upper row
        key = ["entity", "time", "value"]
        lo, hi = (int(round(a * 100)) for a in self.alphas)
        lo_rows = bands[bands["quantile"] == lo].sort_values(key)
        hi_rows = bands[bands["quantile"] == hi].sort_values(key)
        same_keys = len(lo_rows) == len(hi_rows) and (
            lo_rows[key[:2]].to_numpy() == hi_rows[key[:2]].to_numpy()
        ).all()
        if not same_keys:
            misses.append("bands: lower and upper rows do not pair up")
            return misses, {}
        if (lo_rows["value"].to_numpy() > hi_rows["value"].to_numpy()).any():
            misses.append("bands: lower > upper")
        # the forecast rows are each entity's last fh timestamps
        lower = lo_rows.groupby("entity").tail(fh)["value"].to_numpy().reshape(n, fh)
        upper = hi_rows.groupby("entity").tail(fh)["value"].to_numpy().reshape(n, fh)
        if max(_rel_err(lower, ref["lower"]), _rel_err(upper, ref["upper"])) > 1e-6:
            misses.append("bands: differ from the numpy conformal reference")
        test = ref["cp_test"]
        covered = int(((test >= lower) & (test <= upper)).sum())
        if covered != ref["covered"]:
            misses.append(f"coverage count {covered} != reference {ref['covered']}")
        coverage = covered / test.size
        quality = {
            "coverage": coverage,
            "coverage_gap": abs(coverage - (self.alphas[1] - self.alphas[0])),
        }
        return misses, quality


# native features checked against numpy on every series
def _native_reference(x: np.ndarray) -> dict:
    n = len(x)
    mu = x.mean()
    var_pop = ((x - mu) ** 2).mean()
    d = np.diff(x)
    return {
        "absolute_energy": np.sum(x * x),
        "absolute_sum_of_changes": np.sum(np.abs(d)),
        "root_mean_square": np.sqrt(np.sum(x * x) / n),
        "autocorrelation": np.sum((x[1:] - mu) * (x[:-1] - mu)) / (var_pop * (n - 1)),
        "c3": np.sum(x[:-2] * x[1:-1] * x[2:]) / (n - 2),
        "cid_ce": np.sqrt(np.sum(d * d)),
        "time_reversal_asymmetry_statistic": np.mean(
            x[1:-1] * (x[2:] + x[:-2]) * (x[2:] - x[:-2])
        ),
        "variation_coefficient": np.sqrt(var_pop) / mu,
    }


def _lempel_ziv(bits: np.ndarray) -> float:
    seen, i, k, n = set(), 0, 1, len(bits)
    while i + k <= n:
        word = tuple(bits[i : i + k])
        if word in seen:
            k += 1
        else:
            seen.add(word)
            i, k = i + k, 1
    return len(seen) / n


def _adf_t(y: np.ndarray) -> float:
    """ADF t-statistic with one lagged difference and a constant, using
    the library's documented stderr (residual variance over the centered
    sum of squares of the level regressor)."""
    m = len(y) - 2
    dy = np.diff(y)
    x = np.column_stack([y[1 : 1 + m], dy[0:m], np.ones(m)])
    target = dy[1 : 1 + m]
    coef = np.linalg.lstsq(x, target, rcond=None)[0]
    r = target - x @ coef
    mse = (r @ r) / (m - x.shape[1])
    c = x[:, 0] - x[:, 0].mean()
    return float(coef[0] / np.sqrt(mse / (c @ c)))


def _ar4(y: np.ndarray) -> list:
    m = len(y) - 4
    x = np.column_stack([y[4 - i : 4 - i + m] for i in range(1, 5)] + [np.ones(m)])
    return list(np.linalg.lstsq(x, y[4:], rcond=None)[0])


def _udf_reference(x: np.ndarray) -> dict:
    f = np.fft.rfft(x)[:8]
    return {
        "fft_real": f.real,
        "fft_imag": f.imag,
        "fft_angle": np.arctan2(f.real, f.imag) * 180 / np.pi,
        "autoregressive_coefficients": _ar4(x),
        "augmented_dickey_fuller": _adf_t(x),
        "lempel_ziv_complexity": _lempel_ziv((x > 0.0).astype(np.uint8)),
    }


class LongSeriesFeatures:
    """Few long series: every native feature plus four Arrow UDF kernels."""

    name = "long_series_features"
    shape = Shape(n_series=5, len_lo=2000, len_hi=3000)
    requests = ("features",)
    udf_kernels = [
        "fft_coefficients",
        "autoregressive_coefficients",
        "augmented_dickey_fuller",
        "lempel_ziv_complexity",
    ]

    def run(self, kind, spark, path, mods, span) -> Result:
        y = mods.sources.read_panel(spark, path, "entity", "time", ["value"])
        native = mods.features.extract_features(y)
        with span("perfbench.collect"):
            native_pdf = native.toPandas()
        udf = mods.features_udf.extract_features_udf(y, self.udf_kernels)
        with span("perfbench.collect_udf"):
            udf_pdf = udf.toPandas()
        return Result({"native": native_pdf, "udf": udf_pdf}, {})

    def reference(self, panel: pd.DataFrame) -> dict:
        series = _series(panel)
        names = panel["entity"].drop_duplicates().to_numpy()
        # few series, so every one of them is checked
        return {
            "n_series": len(series),
            "expected": {
                name: (_native_reference(x), _udf_reference(x))
                for name, x in zip(names, series)
            },
        }

    def check(self, kind, res: Result, ref: dict) -> tuple[list, dict]:
        misses = []
        native = res.frames["native"].set_index("entity")
        udf = res.frames["udf"].set_index("entity")
        n = ref["n_series"]
        for label, frame in (("native", native), ("udf", udf)):
            if len(frame) != n or frame.index.nunique() != n:
                misses.append(f"{label}: expected one row for each of {n} series")
        if misses:
            return misses, {}
        worst = 0.0
        for ent, (nat, u) in ref["expected"].items():
            for feat, want in nat.items():
                worst = max(worst, _rel_err(native.at[ent, feat], want))
            fft = udf.at[ent, "fft_coefficients"]
            for part in ("real", "imag", "angle"):
                worst = max(worst, _rel_err(list(fft[part]), u[f"fft_{part}"]))
            for feat in (
                "autoregressive_coefficients",
                "augmented_dickey_fuller",
                "lempel_ziv_complexity",
            ):
                got = udf.at[ent, feat]
                got = list(got) if feat == "autoregressive_coefficients" else got
                worst = max(worst, _rel_err(got, u[feat]))
        if worst > 1e-9:
            misses.append(f"features: max relative error {worst:.3g} vs numpy > 1e-9")
        return misses, {"max_rel_err": worst}


WORKLOADS = {w.name: w for w in (ShortSeriesForecast(), LongSeriesFeatures())}
