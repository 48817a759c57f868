"""Naive and seasonal-naive forecasters.

Mirrors functime forecasting/naive.py and snaive.py. The reference's
horizontal concat of sorted frames (naive.py:57-59) is re-expressed as
an entity join — identical semantics, shuffle-free when the per-entity
state frame is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.forecasting.base import Forecaster


class naive(Forecaster):
    """Last value carried forward. Ref naive.py:9-60."""

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        # cutoff rides in the same aggregate: predict's future ranges
        # read this n_entities-row frame, not a second full-panel agg
        self.state["y_last"] = y.groupBy(p.entity).agg(
            F.max_by(p.target, p.time).alias("__last"),
            F.max(p.time).alias("low"),
        )

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        p = self.state["panel"]
        return self.state["y_last"].select(
            p.entity,
            F.explode(F.sequence(F.lit(0), F.lit(fh - 1))).alias("step"),
            F.col("__last").alias("__yhat"),
        )


class snaive(Forecaster):
    """Tile the last seasonal cycle. Ref snaive.py:9-64:
    prediction step i (0-based) = tail_sp[i mod sp]."""

    def __init__(self, freq: str, sp: int):
        super().__init__(freq=freq, lags=1)
        self.sp = sp

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        # one hash aggregate (collect + in-expression sort + tail
        # slice) instead of a window pass building a list per row
        sorted_vals = F.transform(
            F.array_sort(F.collect_list(F.struct(p.time, p.target))),
            lambda s: s[p.target],
        )
        tail = F.when(
            F.size(sorted_vals) <= self.sp, sorted_vals
        ).otherwise(F.slice(sorted_vals, -self.sp, self.sp))
        self.state["y_tail"] = y.groupBy(p.entity).agg(
            tail.alias("__tail"), F.max(p.time).alias("low")
        )

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        p = self.state["panel"]
        step = F.explode(F.sequence(F.lit(0), F.lit(fh - 1))).alias("step")
        rows = self.state["y_tail"].select(p.entity, step, "__tail")
        val = F.element_at(
            F.col("__tail"), (F.col("step") % F.size("__tail") + 1).cast("int")
        )
        return rows.select(p.entity, "step", val.alias("__yhat"))
