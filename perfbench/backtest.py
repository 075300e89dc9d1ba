"""backtest_read: the read side of a backtest.

Setup lands 8 symbols x 3 months of seeded M1 bars in a lake through
``upsert_candles``. A round is four backtest requests (1-, 3-, 7- and
3-day windows on seeded symbols and start days) and one universe scan over
all symbols. A backtest request is ``load_exec_and_filter`` (1 min / 5 mins),
an H1 ``resample_ohlcv``, ``join_mtf`` and ``build_or_levels``, then
``toPandas``; the scan is a multi-symbol ``read_range``, an M5
``resample_ohlcv`` and ``missing_minutes`` -> ``gap_ranges``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from gen import m1_bars, symbols
from spans import quantile

N_SYMBOLS, N_DAYS, DAY0 = 8, 91, np.datetime64("2024-01-01", "D")
GAP_RATE = 5e-4  # isolated missing minutes, so the gap scan finds work
# a fixed mix of window sizes per round, in this order: the median of a
# round is then always the mean of its two 3-day requests
WINDOWS = (1, 3, 7, 3)
SCAN_DAYS = 7
MAIN_KIND = "backtest"


class State:
    def __init__(self, bench):
        self.syms = symbols(N_SYMBOLS)
        self.bars = m1_bars(bench.seed, self.syms, str(DAY0), N_DAYS, GAP_RATE)
        self.by_sym = {s: g.set_index("ts").sort_index()
                       for s, g in self.bars.groupby("symbol")}
        self.root = f"{bench.work}/lake"
        self.rng = np.random.default_rng([bench.seed, 1])


def setup(bench) -> State:
    from backtest_crew_datalake_spark.sources import upsert_candles

    st = State(bench)
    upsert_candles(bench.spark, bench.spark.createDataFrame(st.bars), st.root)
    return st


def warm(bench, st: State) -> None:
    again = m1_bars(bench.seed, st.syms, str(DAY0), N_DAYS, GAP_RATE)
    bench.detail["inputs_identical"] = bool(again.equals(st.bars))
    bench.detail["inputs_sha1"] = hashlib.sha1(
        pd.util.hash_pandas_object(st.bars).values.tobytes()).hexdigest()
    _backtest(bench, st, *_draw(st, 1), "warm.backtest", False)
    bench.check(bench.detail["inputs_identical"],
                "one seed gave two different inputs")


def run(bench, st: State) -> str:
    def one_round():
        for days in WINDOWS:
            args = _draw(st, days)
            bench.pair(lambda traced: _backtest(bench, st, *args, MAIN_KIND,
                                                traced))
        start, end = _window(st, SCAN_DAYS)
        bench.pair(lambda traced: _scan(bench, st, start, end, traced))

    bench.rounds(one_round)
    bench.detail.update(_figures(bench))
    return MAIN_KIND


def _window(st: State, days: int) -> tuple[str, str]:
    d0 = DAY0 + int(st.rng.integers(0, N_DAYS - days + 1))
    return str(d0), str(d0 + days)


def _draw(st: State, days: int) -> tuple[str, str, str, int]:
    sym = st.syms[int(st.rng.integers(0, N_SYMBOLS))]
    return (sym, *_window(st, days), days)


def _backtest(bench, st: State, sym: str, start: str, end: str, days: int,
              kind: str, traced: bool) -> None:
    from backtest_crew_datalake_spark.operators import (
        build_or_levels, join_mtf, resample_ohlcv)
    from backtest_crew_datalake_spark.provider import load_exec_and_filter

    span, spark = bench.tracer.span, bench.spark
    with bench.request(kind, traced) as rq:
        with span("provider.load_exec_and_filter"):
            ex, m5 = load_exec_and_filter(spark, st.root, sym, start, end,
                                          "1 min", "5 mins")
        with span("operators.resample_ohlcv"):
            h1 = resample_ohlcv(ex, "H1", by=["symbol"])
        with span("operators.join_mtf"):
            joined = join_mtf(ex, {"M5": m5, "H1": h1}, by=["symbol"])
        with span("operators.build_or_levels"):
            levels = build_or_levels(ex, by=["symbol"])
        with span("action.toPandas"):
            j, lv, f = joined.toPandas(), levels.toPandas(), m5.toPandas()
    bench.tracer.requests[-1]["window"] = (sym, start, end)
    if rq.ok:
        _check_backtest(bench, _bars(st, sym, start, end), days, j, lv, f)


def _bars(st: State, sym: str, start: str, end: str) -> pd.DataFrame:
    bars = st.by_sym[sym].loc[start:end]
    return bars[bars.index < pd.Timestamp(end)]


def _resample(bars: pd.DataFrame, rule: str) -> pd.DataFrame:
    """Left-labelled OHLCV buckets of one symbol's bars (ts index)."""
    r = bars.resample(rule, label="left", closed="left")
    return pd.DataFrame({"open": r["open"].first(), "high": r["high"].max(),
                         "low": r["low"].min(), "close": r["close"].last(),
                         "volume": r["volume"].sum()}).dropna()


def _check_backtest(bench, bars, days, j, lv, f) -> None:
    m5 = _resample(bars, "5min")
    h1 = _resample(bars, "1h")
    bench.check(len(j) == len(bars),
                f"exec rows {len(j)} != {len(bars)} generated bars")
    bench.check(len(f) == 288 * days, f"M5 rows {len(f)} != {288 * days}")
    f = f.set_index("ts").sort_index()
    bench.check(len(f) == len(m5) and np.array_equal(
        f[list(m5.columns)].to_numpy(), m5.to_numpy()),
        "M5 OHLCV differs from a pandas resample of the generated bars")
    j = j.sort_values("ts")
    ts = pd.DatetimeIndex(j["ts"])
    bench.check(
        np.array_equal(j["close_M5"].to_numpy(),
                       m5["close"].reindex(ts.floor("5min")).to_numpy())
        and np.array_equal(j["close_H1"].to_numpy(),
                           h1["close"].reindex(ts.floor("1h")).to_numpy()),
        "as-of joined M5/H1 closes differ from the generated bars")
    opening = bars[bars.index.hour == 0]
    day = opening.index.normalize()
    want = pd.DataFrame({"or_high": opening["high"].groupby(day).max(),
                         "or_low": opening["low"].groupby(day).min()})
    got = lv.assign(d=pd.to_datetime(lv["session_date"])).set_index("d")
    bench.check(len(got) == days and np.array_equal(
        got[["or_high", "or_low"]].sort_index().to_numpy(), want.to_numpy()),
        "opening-range levels differ from the generated bars")


def _scan(bench, st: State, start: str, end: str, traced: bool) -> None:
    from backtest_crew_datalake_spark.operators import (
        gap_ranges, missing_minutes, resample_ohlcv)
    from backtest_crew_datalake_spark.sources import read_range

    span, spark = bench.tracer.span, bench.spark
    with bench.request("scan", traced) as rq:
        with span("lake.read_range"):
            m1 = read_range(spark, st.root, symbol=st.syms,
                            date_from=start, date_to=end)
        with span("operators.resample_ohlcv"):
            m5 = resample_ohlcv(m1, "M5", by=["symbol"])
        with span("operators.missing_minutes"):
            miss = missing_minutes(m1, by=["symbol"])
        with span("operators.gap_ranges"):
            gaps = gap_ranges(miss, by=["symbol"])
        with span("action.toPandas"):
            f, g = m5.toPandas(), gaps.toPandas()
    if not rq.ok:
        return
    bench.check(len(f) == 288 * SCAN_DAYS * N_SYMBOLS,
                f"scan M5 rows {len(f)} != {288 * SCAN_DAYS * N_SYMBOLS}")
    want_gaps = []
    for sym in st.syms:
        bars = _bars(st, sym, start, end)
        want = _resample(bars, "5min")
        got = f[f["symbol"] == sym].set_index("ts").sort_index()
        bench.check(np.array_equal(got[list(want.columns)].to_numpy(),
                                   want.to_numpy()),
                    f"scan M5 OHLCV of {sym} differs from the generated bars")
        grid = pd.date_range(bars.index[0], bars.index[-1], freq="1min")
        want_gaps += [(sym, t) for t in grid.difference(bars.index)]
    got_gaps = sorted(zip(g["symbol"], pd.to_datetime(g["gap_start"])))
    bench.check(got_gaps == sorted(want_gaps) and (g["n_missing"] == 1).all(),
                f"gap ranges: {len(got_gaps)} found, {len(want_gaps)} expected")


def _figures(bench) -> dict:
    reqs = [r for r in bench.tracer.requests if not r.get("twin")]
    bt = [r["s"] for r in reqs if r["kind"] == MAIN_KIND]
    scan = [r["s"] for r in reqs if r["kind"] == "scan"]
    return {"bt_s": bt, "bt_p50_s": quantile(bt, 0.5), "bt_n": len(bt),
            "bt_max_s": max(bt), "scan_p50_s": quantile(scan, 0.5),
            "scan_n": len(scan)}
