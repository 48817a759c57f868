"""k-nearest-neighbour and approximate-NN autoregressive forecasters.

Mirrors functime forecasting/knn.py (sklearn KNeighborsRegressor over
the global lag matrix) and forecasting/lance.py:16-113 (`ann`: Lance
IVF_PQ index over lag vectors, nearest-centroid probing).

Spark-first design
------------------
The training lag matrix is built distributed (one window pass,
`make_reduction`), then sampled to a broadcast-able reference set
(`max_train_rows`, uniform per-partition sampling — at 100 TB the
training matrix cannot live on one node, and kNN quality degrades
gracefully under uniform sampling). Queries stay fully distributed:
each Arrow batch of entities scans the broadcast matrix vectorized in
numpy — embarrassingly parallel across entities, no shuffle at predict
time.

`ann` replaces the exact scan with an IVF coarse quantizer (k-means
centroids trained driver-side on the broadcast sample, ref
lance.py:60-67's IVF_PQ): queries probe the `n_probe` nearest
centroid buckets only, cutting the scan factor to ~n_probe/n_cells.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from functime_spark.forecasting._ar import (
    make_reduction,
    make_y_lag,
    mean_ensemble,
    predict_from_lags,
)
from functime_spark.forecasting.base import Forecaster


def _kmeans(X: np.ndarray, k: int, iters: int = 10, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = X[m].mean(0)
    return cents


def _query(feats: np.ndarray, x_h) -> np.ndarray:
    """kNN query rows: the lag features, then the exogenous block."""
    return feats if x_h is None else np.hstack([feats, x_h])


def _ivf_knn_step(payload):
    """Lag-kernel step probing the n_probe nearest IVF cells of a
    cell-sorted reference matrix (bounds = cell offsets). The designed
    path past the brute scan's bandwidth wall: the per-query scan
    covers ~n_probe/n_cells of the reference."""
    feats_ref, targs_ref, C, bd, k, n_probe = payload

    def step(feats: np.ndarray, x_h, h: int) -> np.ndarray:
        q = _query(feats, x_h)
        dc = (
            (q * q).sum(1)[:, None]
            - 2.0 * (q @ C.T)
            + (C * C).sum(1)[None, :]
        )
        probes = np.argsort(dc, axis=1)[:, :n_probe]
        out = np.empty(len(q))
        for i in range(len(q)):
            idxs = np.concatenate(
                [np.arange(bd[c], bd[c + 1]) for c in probes[i]]
            )
            if len(idxs) == 0:
                idxs = np.arange(len(feats_ref))
            d = ((feats_ref[idxs] - q[i]) ** 2).sum(1)
            kk = min(k, len(idxs))
            near = np.argpartition(d, kk - 1)[:kk]
            out[i] = targs_ref[idxs[near]].mean()
        return out

    return step


def _ivf_pack(feats: np.ndarray, targs: np.ndarray, n_cells: int):
    """(sorted feats, sorted targs, centroids, cell bounds) — the
    shared IVF build used by `ann._fit` and `knn`'s auto re-route."""
    cents = _kmeans(feats, n_cells)
    assign = ((feats[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
    order = np.argsort(assign, kind="stable")
    bounds = np.searchsorted(assign[order], np.arange(len(cents) + 1))
    return feats[order], targs[order], cents, bounds


def _brute_knn_step(ref_payload):
    """Lag-kernel step scanning the whole broadcast reference matrix.

    Queries are processed in row chunks that cap the E x n_ref
    distance matrix at ~8M doubles (64 MB): an unchunked step on a
    full Arrow batch against a 100k-row reference allocates
    multi-GB temporaries per recursion step and thrashes instead of
    computing. r.r is hoisted out of the per-chunk loop."""
    feats_ref, targs_ref, k = ref_payload
    rr = (feats_ref * feats_ref).sum(1)[None, :]
    kk = min(k, feats_ref.shape[0])
    chunk = max(1, (1 << 23) // max(1, feats_ref.shape[0]))

    def step(feats: np.ndarray, x_h, h: int) -> np.ndarray:
        q = _query(feats, x_h)
        out = np.empty(len(q), dtype="float64")
        for s in range(0, len(q), chunk):
            qq = q[s : s + chunk]
            # ||q - r||^2 = q.q - 2 q.r + r.r ; argpartition for top-k
            d = (qq * qq).sum(1)[:, None] - 2.0 * (qq @ feats_ref.T) + rr
            idx = np.argpartition(d, kk - 1, axis=1)[:, :kk]
            out[s : s + chunk] = targs_ref[idx].mean(1)
        return out

    return step


def _direct_knn_step(payload):
    """Direct-strategy step: horizon h scans reference columns
    h-1 .. h-1+lags (the direct design slice) plus the exogenous block
    after all `width` lag columns; queries are the last observed lags
    for every horizon. Ref predict_direct _ar.py:277-330."""
    wide, targs, k, lags, width, max_horizons = payload

    def step(feats: np.ndarray, x_h, h: int) -> np.ndarray:
        lo = min(h, max_horizons - 1)
        ref = wide[:, lo : lo + lags]
        if x_h is not None:
            ref = np.hstack([ref, wide[:, width:]])
        return _brute_knn_step((np.ascontiguousarray(ref), targs, k))(feats, x_h, h)

    return step


class knn(Forecaster):
    """kNN regression on lag vectors. Ref knn.py:10-34. Strategies:
    recursive (default), direct (per-horizon reference-column slices
    of one shared broadcast matrix — no extra collects), ensemble.
    """

    # the brute recursion costs ~n_ref * n_entities * fh distance
    # evaluations; the 100x stress measured the wall at ~6e10 evals
    # (pure memory bandwidth, SCALE.md). Above SCALE_WALL_EVALS the
    # designed path is IVF probing (`ann`, or on_scale_wall="auto").
    SCALE_WALL_EVALS = 1e9

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        n_neighbors: int = 5,
        max_train_rows: int = 100_000,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        on_scale_wall: str = "warn",
        target_transform=None,
    ):
        super().__init__(freq=freq, lags=lags, target_transform=target_transform)
        self.n_neighbors = n_neighbors
        self.max_train_rows = max_train_rows
        self.strategy = strategy
        self.max_horizons = max_horizons
        if strategy in ("direct", "ensemble") and max_horizons is None:
            raise ValueError("direct/ensemble strategy requires max_horizons")
        if on_scale_wall not in ("warn", "auto", "ignore"):
            raise ValueError(
                f"on_scale_wall must be warn|auto|ignore, got {on_scale_wall!r}"
            )
        self.on_scale_wall = on_scale_wall

    def _scale_evals(self, fh: int) -> float:
        """Predicted brute-force distance-evaluation count for this
        predict call: n_ref * n_entities * fh. n_entities comes from
        one count of the persisted n_entities-row recursion state,
        cached on the fit state."""
        n_ent = self.state.get("n_entities")
        if n_ent is None:
            n_ent = self.state["y_lag"].count()
            self.state["n_entities"] = n_ent
        return float(len(self.state["train"][0])) * float(n_ent) * float(fh)

    def _design_width(self) -> int:
        if self.strategy in ("direct", "ensemble"):
            return self.lags + self.max_horizons - 1
        return self.lags

    def _collect_train(self, y: DataFrame, X: DataFrame | None):
        p = self.state["panel"]
        width = self._design_width()
        # exogenous columns join the reference matrix after the lag
        # block (the reference's sklearn KNeighborsRegressor fits the
        # full design, ref knn.py:25-34 + fit_autoreg)
        x_cols = list(X.columns[2:]) if X is not None else []
        self.state["x_cols"] = x_cols
        feature_cols = [f"{p.target}__lag_{k}" for k in range(1, width + 1)]
        cached = (
            make_reduction(y, width, X)
            .select(*feature_cols, *x_cols, p.target)
            .persist()
        )
        n = cached.count()  # materializes the cache; the collect below re-reads it
        self.state["sampled"] = n > self.max_train_rows
        design = cached
        if self.state["sampled"]:
            design = cached.sample(
                fraction=min(1.0, self.max_train_rows / n * 1.05), seed=7
            ).limit(self.max_train_rows)
        pdf = design.toPandas()
        cached.unpersist()
        feats = pdf[feature_cols + x_cols].to_numpy(dtype="float64")
        targs = pdf[p.target].to_numpy(dtype="float64")
        return feats, targs

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        self.state["train"] = self._collect_train(y, X)
        self.state.pop("n_entities", None)  # refit may change the panel
        self.state.pop("ivf", None)
        self.state["y_lag"] = make_y_lag(y, self.lags).persist()

    def _route_scale_wall(self, fh: int) -> bool:
        """True when the recursive scan should re-route through IVF.

        Crossing SCALE_WALL_EVALS with on_scale_wall="warn" (default)
        raises a UserWarning naming the designed alternatives; "auto"
        silently builds the IVF structures once (driver k-means over
        the already-collected <= max_train_rows reference) and probes
        instead of brute-scanning; "ignore" keeps the brute scan."""
        import warnings

        if self.on_scale_wall == "ignore":
            return False
        evals = self._scale_evals(fh)
        if evals <= self.SCALE_WALL_EVALS:
            return False
        if self.on_scale_wall == "auto":
            if self.strategy == "recursive":
                return True
            # the IVF re-route only exists for the recursive scan
            # (direct/ensemble rebuild per-horizon reference columns,
            # which the IVF structures don't cover) — say so instead
            # of re-suggesting the option the user already passed
            warnings.warn(
                f"knn predict would run ~{evals:.2e} brute-force distance "
                f"evaluations, past the ~{self.SCALE_WALL_EVALS:.0e} "
                "bandwidth wall, and on_scale_wall='auto' only re-routes "
                f"strategy='recursive' (got {self.strategy!r}: each horizon "
                "scans different reference columns, which one IVF index "
                "does not cover). Use the `ann` forecaster, switch to "
                "strategy='recursive', or pass on_scale_wall='ignore'.",
                stacklevel=3,
            )
            return False
        warnings.warn(
            f"knn predict would run ~{evals:.2e} brute-force distance "
            f"evaluations (n_ref x n_entities x fh), past the "
            f"~{self.SCALE_WALL_EVALS:.0e} bandwidth wall measured in the "
            "100x stress (SCALE.md). Use the `ann` forecaster (IVF "
            "probing), pass on_scale_wall='auto' to re-route this fit "
            "through IVF (recursive strategy only), or "
            "on_scale_wall='ignore' to silence this.",
            stacklevel=3,
        )
        return False

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        from functime_spark.pipeline._util import spread_for_cpu

        use_ivf = self._route_scale_wall(fh)
        # the per-entity state frame is tiny after its aggregate, so AQE
        # coalesces it to ONE partition and the whole Arrow scan would run
        # in a single task; spread it across the cluster first (no-op when
        # the frame is already parallel)
        state = spread_for_cpu(self._future_state(fh, X))
        feats_ref, targs_ref = self.state["train"]
        x_cols = self.state.get("x_cols") or []
        lags, width = self.lags, self._design_width()
        preds = None
        if self.strategy in ("recursive", "ensemble"):
            # recursive scan uses the first `lags` reference columns plus
            # the exogenous block, which sits AFTER all width lag columns —
            # width > lags under the ensemble strategy, so slice both
            # blocks explicitly rather than assuming they are adjacent
            ref = np.ascontiguousarray(
                np.hstack([feats_ref[:, :lags], feats_ref[:, width:]])
                if x_cols
                else feats_ref[:, :lags]
            )
            if use_ivf:
                # the auto re-route past the bandwidth wall: one driver
                # k-means over the already-collected reference (built
                # once, cached on the fit state), ann-default cell/probe
                # counts
                ivf = self.state.get("ivf")
                if ivf is None:
                    ivf = _ivf_pack(ref, targs_ref, n_cells=64)
                    self.state["ivf"] = ivf
                step, payload = _ivf_knn_step, (*ivf, self.n_neighbors, 4)
            else:
                step, payload = _brute_knn_step, (ref, targs_ref, self.n_neighbors)
            preds = predict_from_lags(state, fh, lags, payload, step)
        if self.strategy in ("direct", "ensemble"):
            k, mh = self.n_neighbors, self.max_horizons
            payload = (feats_ref, targs_ref, k, lags, width, mh)
            d = predict_from_lags(
                state, fh, lags, payload, _direct_knn_step, recursive=False
            )
            preds = d if preds is None else mean_ensemble(preds, d)
        return preds


class ann(knn):
    """IVF-probed approximate kNN. Ref lance.py:16-113 (IVF_PQ)."""

    def __init__(
        self,
        freq: str,
        lags: int = 12,
        n_neighbors: int = 5,
        n_cells: int = 64,
        n_probe: int = 4,
        max_train_rows: int = 100_000,
        strategy: str = "recursive",
        max_horizons: int | None = None,
        on_scale_wall: str = "warn",
        target_transform=None,
    ):
        # strategy/max_horizons/on_scale_wall are accepted so the
        # backtest clone path (type(self)(**self._init_kwargs()),
        # base.py) round-trips — ann itself is recursive-only, like
        # the reference's IVF forecaster (ref lance.py:16-113)
        if strategy != "recursive":
            raise ValueError(
                f"ann supports only the recursive strategy, got {strategy!r}; "
                "use knn for direct/ensemble"
            )
        super().__init__(
            freq=freq,
            lags=lags,
            n_neighbors=n_neighbors,
            max_train_rows=max_train_rows,
            strategy=strategy,
            max_horizons=max_horizons,
            on_scale_wall=on_scale_wall,
            target_transform=target_transform,
        )
        self.n_cells = n_cells
        self.n_probe = n_probe

    def _fit(self, y: DataFrame, X: DataFrame | None = None):
        feats, targs = self._collect_train(y, X)
        self.state["train"] = _ivf_pack(feats, targs, self.n_cells)
        self.state.pop("n_entities", None)
        self.state["y_lag"] = make_y_lag(y, self.lags).persist()

    def _predict_values(self, fh: int, X: DataFrame | None = None) -> DataFrame:
        from functime_spark.pipeline._util import spread_for_cpu

        # the centroid space spans lag + exogenous dims when fit with X
        state = spread_for_cpu(self._future_state(fh, X))
        payload = (*self.state["train"], self.n_neighbors, self.n_probe)
        return predict_from_lags(state, fh, self.lags, payload, _ivf_knn_step)
