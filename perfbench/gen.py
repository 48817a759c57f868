"""Seeded panel generator for the benchmark workloads.

Every series is AR(1) noise on top of a level, a linear trend and a
weekly (period-7) seasonal cycle, clipped away from zero so that it is
strictly positive. Series lengths vary per series. Generation is one
single-threaded numpy ``Generator`` seeded from the command line: the
same seed gives the same panel, bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

START = np.datetime64("2015-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Shape:
    n_series: int
    len_lo: int
    len_hi: int  # inclusive


def make_panel(shape: Shape, seed: int) -> pd.DataFrame:
    """(entity, time, value) sorted by entity then time.

    Entities are strings ``s00000``...; every series starts on the same
    day and runs daily for its own length."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = shape.n_series
    # evenly spaced lengths in a seeded order: every series gets its own
    # length, and the total row count (the work) is the same for every seed
    lengths = rng.permutation(
        np.linspace(shape.len_lo, shape.len_hi, n).round().astype("int64")
    )
    t_max = int(lengths.max())
    level = rng.uniform(50.0, 150.0, size=n)
    # total trend drift over the series' own length, as a share of level
    drift = rng.uniform(-0.3, 0.5, size=n) * level / lengths
    amp = rng.uniform(0.02, 0.15, size=n) * level
    phase = rng.uniform(0.0, 2 * np.pi, size=n)
    phi = rng.uniform(0.2, 0.9, size=n)
    sigma = rng.uniform(0.01, 0.05, size=n) * level

    eps = rng.standard_normal((t_max, n)) * sigma
    noise = np.empty((t_max, n))
    noise[0] = eps[0] / np.sqrt(1.0 - phi * phi)
    for t in range(1, t_max):
        noise[t] = phi * noise[t - 1] + eps[t]
    t_idx = np.arange(t_max, dtype="float64")[:, None]
    y = level + drift * t_idx + amp * np.sin(2 * np.pi * t_idx / 7.0 + phase) + noise
    y = np.maximum(y, 1.0).T  # (n, t_max)

    mask = np.arange(t_max)[None, :] < lengths[:, None]
    ent_idx, t_pos = np.nonzero(mask)
    names = np.array([f"s{i:05d}" for i in range(n)])
    return pd.DataFrame(
        {
            "entity": names[ent_idx],
            "time": START + t_pos.astype("int64") * np.timedelta64(1, "D"),
            "value": y[ent_idx, t_pos],
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write the panel as one parquet file with pyarrow's defaults."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(
        pa.schema(
            [
                ("entity", pa.string()),
                ("time", pa.timestamp("us")),
                ("value", pa.float64()),
            ]
        )
    )
    pq.write_table(table, path)
