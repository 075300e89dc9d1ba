"""Seeded benchmark bars, generated with numpy from the ``--seed`` argument.

Nothing here calls the program under test: the bars are built in pandas and
handed to the program as plain frames or parquet files, so a change to the
program cannot change its own inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def symbols(n: int) -> list[str]:
    return [f"S{i:02d}-USD" for i in range(n)]


def m1_bars(seed: int, syms: list[str], day0: str, n_days: int,
            gap_rate: float = 0.0) -> pd.DataFrame:
    """Complete-minute OHLCV random walks, one per symbol, on [day0, day0 +
    n_days). Volumes are whole units, so their sums compare exactly; prices
    are only ever selected (first, last, max, min), never summed, by the
    checks. ``gap_rate`` drops that share of minutes, never two in a row
    and never the first or last minute of a day."""
    rng = np.random.default_rng(seed)
    n = n_days * 1440
    t0 = np.datetime64(day0, "m")
    ts = (t0 + np.arange(n)).astype("datetime64[us]")
    frames = []
    for sym in syms:
        p0 = 100.0 * np.exp(rng.normal(0.0, 1.0))
        close = np.round(p0 * np.exp(np.cumsum(rng.normal(0, 1e-3, n))), 2)
        open_ = np.round(np.concatenate([[p0], close[:-1]]), 2)
        wick = np.round(np.abs(rng.normal(0, 2e-4, (2, n))) * close, 2)
        high = np.maximum(open_, close) + wick[0]
        low = np.minimum(open_, close) - wick[1]
        vol = rng.integers(1, 1000, n).astype("float64")
        keep = np.ones(n, bool)
        if gap_rate:
            cand = rng.random(n) < gap_rate
            mod = np.arange(n) % 1440
            cand &= (mod != 0) & (mod != 1439)
            cand[1:] &= ~cand[:-1]
            keep = ~cand
        frames.append(pd.DataFrame({
            "ts": ts[keep], "open": open_[keep], "high": high[keep],
            "low": low[keep], "close": close[keep], "volume": vol[keep],
            "symbol": sym,
        }))
    return pd.concat(frames, ignore_index=True)
