"""Holt's linear-trend exponential smoothing (Holt 1957), with
optional trend damping (Gardner & McKenzie 1985) — beyond-reference
(the reference's named-forecaster list has no exponential-smoothing
family), but squarely in its domain next to `theta`.

Recursion (l_1 = y_1, b_1 = y_2 - y_1; phi = 1 is classic Holt):

    l_t = alpha * y_t + (1 - alpha) * (l_{t-1} + phi * b_{t-1})
    b_t = beta * (l_t - l_{t-1}) + (1 - beta) * phi * b_{t-1}
    yhat_{n+h} = l_n + (phi + phi^2 + ... + phi^h) * b_n

The recursion is linear time-invariant in y, so the final state
UNROLLS to per-position weighted sums (the theta/SES discipline, one
order up — two state components instead of one):

    (l_n, b_n)' = M^(n-1) s_1 + sum_{t=2..n} M^(n-t) c y_t,
    M = [[1-a, (1-a)phi], [-ab, phi(1-ab)]],  c = (a, ab)',
    s_1 = y_1 (1,-1)' + y_2 (0,1)'

The driver computes the M-power weight tables ONCE in numpy (length =
max series length, one tiny count aggregate to find it — the BM25
avgdl class of driver scalar) and ships them as a broadcast one-row
array frame (the PQ-codebook pattern); each observation then picks
its weight row-locally by back-index and the whole fit is ONE window
pass + ONE weighted-sum aggregate per entity. No UDF, no iteration,
no per-step driver loop — at 100 TB everything is
entity-partitioned and the state frame is n_entities rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from functime_spark.forecasting.base import Forecaster


class holt(Forecaster):
    """Holt linear-trend smoothing: `alpha` (level), `beta` (trend)
    in (0, 1); `phi` in (0, 1] damps the trend (1 = classic Holt).
    Fixed constants — no in-fit optimization, keeping the plan
    deterministic; sweep with backtest/auto tooling. Series of
    length 1 degenerate to the naive flat forecast (b = 0)."""

    def __init__(
        self,
        freq: str,
        alpha: float = 0.5,
        beta: float = 0.3,
        phi: float = 1.0,
    ):
        if not (0.0 < alpha < 1.0) or not (0.0 < beta < 1.0):
            raise ValueError("alpha and beta must be in (0, 1)")
        if not (0.0 < phi <= 1.0):
            raise ValueError("phi must be in (0, 1]")
        super().__init__(freq=freq, lags=1)
        self.alpha = alpha
        self.beta = beta
        self.phi = phi

    def _weight_tables(self, kmax: int):
        """u[k] = M^k c, v1[k] = M^k (1,-1)', v2[k] = M^k (0,1)' for
        k = 0..kmax — the position weights of y_t / y_1 / y_2 in the
        final state. O(kmax) 2x2 multiplies on the driver."""
        a, b, phi = self.alpha, self.beta, self.phi
        M = np.array(
            [[1 - a, (1 - a) * phi], [-a * b, phi * (1 - a * b)]],
            dtype=np.float64,
        )
        u = np.empty((kmax + 1, 2))
        v1 = np.empty((kmax + 1, 2))
        v2 = np.empty((kmax + 1, 2))
        u[0] = (a, a * b)
        v1[0] = (1.0, -1.0)
        v2[0] = (0.0, 1.0)
        for k in range(1, kmax + 1):
            u[k] = M @ u[k - 1]
            v1[k] = M @ v1[k - 1]
            v2[k] = M @ v2[k - 1]
        return u, v1, v2

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        p = self.state["panel"]
        w = Window.partitionBy(p.entity).orderBy(p.time)
        rows = y.select(
            p.entity,
            F.col(p.target).cast("double").alias("__y"),
            F.row_number().over(w).alias("__t"),  # 1-based position
            F.col(p.time),
        )
        stats = rows.groupBy(p.entity).agg(
            F.count(F.lit(1)).alias("__n"), F.max(p.time).alias("low")
        )
        from functime_spark.materialize import materialize

        stats = materialize(stats)
        kmax = int(
            stats.agg(F.max("__n")).first()[0] or 1
        )  # one driver scalar (the avgdl class)
        u, v1, v2 = self._weight_tables(kmax)
        spark = y.sparkSession
        wt = spark.createDataFrame(
            [
                (
                    [float(x) for x in u[:, 0]],
                    [float(x) for x in u[:, 1]],
                    [float(x) for x in v1[:, 0]],
                    [float(x) for x in v1[:, 1]],
                    [float(x) for x in v2[:, 0]],
                    [float(x) for x in v2[:, 1]],
                )
            ],
            "ul array<double>, ub array<double>, v1l array<double>, "
            "v1b array<double>, v2l array<double>, v2b array<double>",
        )
        j = rows.join(stats.select(p.entity, "__n"), on=p.entity).crossJoin(
            F.broadcast(wt)
        )
        # back-index k = n - t (element_at is 1-based -> k + 1); the
        # t=1/t=2 rows add the init-state weights M^(n-1) s_1 on top
        # of (t=2) / instead of (t=1) the running M^(n-t) c term.
        # Degenerate n=1: l = y_1, b = 0.
        k1 = F.col("__n") - F.col("__t") + 1  # element_at index of M^(n-t)
        kn = F.col("__n")  # element_at index of M^(n-1)
        t = F.col("__t")
        n = F.col("__n")

        def weight(run, vini1, vini2, degenerate):
            base = F.when(t >= 2, F.element_at(run, k1.cast("int"))).otherwise(
                F.lit(0.0)
            )
            init = (
                F.when(
                    t == 1, F.element_at(vini1, kn.cast("int"))
                )
                .when(t == 2, F.element_at(vini2, kn.cast("int")))
                .otherwise(F.lit(0.0))
            )
            return F.when(n == 1, F.lit(degenerate)).otherwise(base + init)

        wl = weight(F.col("ul"), F.col("v1l"), F.col("v2l"), 1.0)
        wb = weight(F.col("ub"), F.col("v1b"), F.col("v2b"), 0.0)
        state = j.groupBy(p.entity).agg(
            F.sum(wl * F.col("__y")).alias("__l"),
            F.sum(wb * F.col("__y")).alias("__b"),
        )
        self.state["holt"] = materialize(
            state.join(stats.select(p.entity, "low"), on=p.entity)
        )

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        p = self.state["panel"]
        st = self.state["holt"]
        phi = float(self.phi)
        step = F.explode(F.sequence(F.lit(0), F.lit(fh - 1))).alias("step")
        rows = st.select(p.entity, step, "__l", "__b")
        h = F.col("step") + 1
        if phi == 1.0:
            damp = h.cast("double")
        else:
            # phi + ... + phi^h = phi * (1 - phi^h) / (1 - phi)
            damp = F.lit(phi) * (
                1.0 - F.pow(F.lit(phi), h.cast("double"))
            ) / F.lit(1.0 - phi)
        return rows.select(
            p.entity,
            "step",
            (F.col("__l") + damp * F.col("__b")).alias("__yhat"),
        )
