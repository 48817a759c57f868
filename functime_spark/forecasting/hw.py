"""Holt-Winters seasonal smoothing (Winters 1960), additive and
multiplicative — beyond-reference; completes the classical
exponential-smoothing family next to theta (SES) and holt (trend).

Recursion for t = m+1..n (classical init: l_m = mean(y_1..m),
b_m = (mean(y_{m+1..2m}) - mean(y_1..m)) / m, s_i = y_i - l_m):

    l_t = alpha * (y_t - s_{t-m}) + (1 - alpha) * (l_{t-1} + b_{t-1})
    b_t = beta  * (l_t - l_{t-1}) + (1 - beta) * b_{t-1}
    s_t = gamma * (y_t - l_{t-1} - b_{t-1}) + (1 - gamma) * s_{t-m}
    yhat_{n+h} = l_n + h * b_n + s_{n-m+1+((h-1) mod m)}

Engine-tier decision, measured against its siblings: SES and Holt
unroll natively because their state is 1- and 2-dimensional (the
M-power weight tables are O(maxT) scalars/pairs). Holt-Winters' state
is (m+2)-dimensional, so the same unrolling ships an
O(maxT * m^2)-entry weight tensor plus an O(maxT * m * 2m)
init-coupling tensor — for hourly/daily seasonality (m = 24) that is
megabytes of broadcast literals feeding 26 sums per observation. The
inherently sequential per-entity kernel is the honest shape here:
ONE Arrow-batched applyInPandas pass over entity groups (the
boxcox/deseasonalize tier), state O(m) per entity, entities the
parallel axis — at 100 TB the fit scales by adding executors, and
the recursion never leaves the executor that holds the series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functime_spark.forecasting.base import Forecaster


class holt_winters(Forecaster):
    """Holt-Winters seasonal smoothing: `alpha`/`beta`/`gamma` in
    (0, 1), `sp` the seasonal period (>= 2). Fixed constants —
    deterministic and SQL-replayable; sweep with backtest/auto tooling
    (auto_hw). Every entity must have >= 2*sp observations (the
    classical init needs two full cycles) — shorter series raise at
    direct fit; inside backtest() they drop out of the split (the
    _x_on_short='drop' convention).

    ``seasonal="multiplicative"`` (r11) switches to the classic
    Winters 1960 ratio form, the standard shape for retail/M5-like
    panels whose seasonal amplitude scales with level:

        l_t = alpha * (y_t / s_{t-m}) + (1 - alpha) * (l_{t-1} + b_{t-1})
        b_t = beta  * (l_t - l_{t-1}) + (1 - beta) * b_{t-1}
        s_t = gamma * (y_t / l_t) + (1 - gamma) * s_{t-m}
        yhat_{n+h} = (l_n + h * b_n) * s_{n-m+1+((h-1) mod m)}

    with init s_i = y_i / l_m. Ratios demand strictly positive data:
    entities with any y <= 0 raise at direct fit and drop out of
    backtest splits, same as the too-short rule."""

    def __init__(
        self,
        freq: str,
        sp: int,
        alpha: float = 0.3,
        beta: float = 0.1,
        gamma: float = 0.2,
        seasonal: str = "additive",
    ):
        for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
            if not (0.0 < v < 1.0):
                raise ValueError(f"{name} must be in (0, 1)")
        if sp < 2:
            raise ValueError("sp must be >= 2")
        if seasonal not in ("additive", "multiplicative"):
            raise ValueError("seasonal must be 'additive' or 'multiplicative'")
        super().__init__(freq=freq, lags=1)
        self.sp = sp
        self.alpha = alpha
        self.beta = beta
        self.gamma = gamma
        self.seasonal = seasonal

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        m = self.sp
        a, be, g = self.alpha, self.beta, self.gamma
        mult = self.seasonal == "multiplicative"
        stats = y.groupBy(p.entity).agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.col(p.target).cast("double")).alias("__ymin"),
        )
        bad = F.col("__cnt") < 2 * m
        if mult:
            # ratios (y/s, y/l) demand strictly positive data
            bad = bad | (F.col("__ymin") <= 0.0)
        if self._x_on_short == "drop":
            # backtest convention: entities too short for the
            # two-cycle init (or nonpositive under multiplicative)
            # emit NO state rows (they drop out of the split via the
            # inner predict join, like the croston all-zero left-join
            # path) instead of aborting the whole backtest
            ok = stats.where(~bad).select(p.entity)
            y = y.join(F.broadcast(ok), on=p.entity, how="left_semi")
        else:
            row = stats.agg(
                F.min("__cnt").alias("n"), F.min("__ymin").alias("ymin")
            ).first()
            if row["n"] is None or int(row["n"]) < 2 * m:
                raise ValueError(
                    f"holt_winters(sp={m}) needs >= {2 * m} observations "
                    f"per entity (classical two-cycle init); shortest "
                    f"series has {row['n']}"
                )
            if mult and float(row["ymin"]) <= 0.0:
                raise ValueError(
                    "holt_winters(seasonal='multiplicative') needs "
                    "strictly positive observations (the recursion "
                    f"divides by level and season); min value is "
                    f"{row['ymin']}"
                )
        entity, time, target = p.entity, p.time, p.target
        entity_dtype = dict(y.dtypes)[entity]
        time_dtype = dict(y.dtypes)[time]
        schema = (
            f"{entity} {entity_dtype}, __l double, __b double, "
            f"__s array<double>, low {time_dtype}"
        )

        def fit_group(pdf):
            import pandas as pd

            pdf = pdf.sort_values(time)
            yv = pdf[target].to_numpy(dtype=float)
            lvl = float(yv[:m].mean())
            trd = float((yv[m:2 * m].mean() - yv[:m].mean()) / m)
            if mult:
                seas = [float(v / lvl) for v in yv[:m]]  # s_{i+1} = y/l_m
                for t in range(m, len(yv)):
                    s_tm = seas[t - m]
                    l_new = a * (yv[t] / s_tm) + (1 - a) * (lvl + trd)
                    seas.append(g * (yv[t] / l_new) + (1 - g) * s_tm)
                    trd = be * (l_new - lvl) + (1 - be) * trd
                    lvl = l_new
                return pd.DataFrame(
                    {
                        entity: [pdf[entity].iloc[0]],
                        "__l": [lvl],
                        "__b": [trd],
                        "__s": [seas[-m:]],
                        "low": [pdf[time].iloc[-1]],
                    }
                )
            seas = [float(v - lvl) for v in yv[:m]]  # seas[i] = s_{i+1}
            for t in range(m, len(yv)):
                s_tm = seas[t - m]
                l_new = a * (yv[t] - s_tm) + (1 - a) * (lvl + trd)
                seas.append(g * (yv[t] - lvl - trd) + (1 - g) * s_tm)
                trd = be * (l_new - lvl) + (1 - be) * trd
                lvl = l_new
            return pd.DataFrame(
                {
                    entity: [pdf[entity].iloc[0]],
                    "__l": [lvl],
                    "__b": [trd],
                    "__s": [seas[-m:]],
                    "low": [pdf[time].iloc[-1]],
                }
            )

        from functime_spark.materialize import materialize
        from functime_spark.pipeline._util import spread_groups

        state = (
            spread_groups(y, p.entity)
            .groupBy(p.entity)
            .applyInPandas(fit_group, schema=schema)
        )
        self.state["hw"] = materialize(state)

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        p = self.state["panel"]
        st = self.state["hw"]
        m = self.sp
        step = F.explode(F.sequence(F.lit(0), F.lit(fh - 1))).alias("step")
        rows = st.select(p.entity, step, "__l", "__b", "__s")
        h = F.col("step") + 1
        # __s holds the LAST m seasonal states oldest-first, so
        # forecast h uses __s[(h-1) mod m] (element_at is 1-based)
        seas = F.element_at(
            "__s", (F.pmod(h - 1, F.lit(m)) + 1).cast("int")
        )
        trend = F.col("__l") + h.cast("double") * F.col("__b")
        yhat = (
            (trend * seas)
            if self.seasonal == "multiplicative"
            else (trend + seas)
        )
        return rows.select(p.entity, "step", yhat.alias("__yhat"))
