"""Simple exponential smoothing (Brown 1956) — the flat-forecast base
case of the classical family (theta smooths its theta=2 line with
exactly this; holt adds trend, holt_winters seasonality, croston
applies it twice). Beyond-reference as a NAMED forecaster.

    l_t = alpha * y_t + (1 - alpha) * l_{t-1},  l_1 = y_1
    yhat_h = l_n  (flat)

Evaluated in CLOSED FORM (the theta/SES weighted sum): ONE window
pass for positions + ONE weighted aggregate per entity — no UDF, no
iteration; state is n_entities rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.forecasting.base import Forecaster


class ses(Forecaster):
    """Flat simple-exponential-smoothing forecaster; `alpha` in
    (0, 1), fixed (sweep with backtest/auto tooling)."""

    def __init__(self, freq: str, alpha: float = 0.5):
        if not (0.0 < alpha < 1.0):
            raise ValueError("alpha must be in (0, 1)")
        super().__init__(freq=freq, lags=1)
        self.alpha = alpha

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        a = float(self.alpha)
        w = Window.partitionBy(p.entity).orderBy(p.time)
        rows = y.select(
            p.entity,
            F.col(p.target).cast("double").alias("__y"),
            F.row_number().over(w).alias("__t"),
            F.col(p.time),
        )
        stats = rows.groupBy(p.entity).agg(
            F.max("__t").alias("__n"), F.max(p.time).alias("low")
        )
        j = rows.join(stats, on=p.entity)
        back = (F.col("__n") - F.col("__t")).cast("double")
        c = F.when(
            F.col("__t") == 1, F.pow(F.lit(1.0 - a), F.col("__n") - F.lit(1))
        ).otherwise(F.lit(a) * F.pow(F.lit(1.0 - a), back))
        from functime_spark.materialize import materialize

        lvl = j.groupBy(p.entity).agg(
            F.sum(c * F.col("__y")).alias("__l"), F.max("low").alias("low")
        )
        self.state["ses"] = materialize(lvl)

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        p = self.state["panel"]
        return self.state["ses"].select(
            p.entity,
            F.explode(F.sequence(F.lit(0), F.lit(fh - 1))).alias("step"),
            F.col("__l").alias("__yhat"),
        )
