"""ingest_cycle: the write side, with reads beside the writes.

Setup lands 2 days of seeded bars for 8 symbols in a lake (one landing
file drained by ``stream_ingest_candles``, which also starts the stream
machinery before the clock runs) and in an ACID table partitioned by
(symbol, month) (``acid_write``). One untimed cycle warms the write paths;
then a round is two cycles and one maintenance request. A cycle lands the
next day for every symbol as one parquet file, plus 2% of the previous
day's bars re-delivered with revised closes, before its clock starts;
drains it with ``stream_ingest_candles(available_now=True)``; reads both
days back with ``read_range``; merges the same batch into the ACID table
with ``acid_upsert``; deletes a few seeded keys of the new day with
``acid_delete_mor``; and reads one symbol's snapshot with
``acid_read(partition_filter=...)``. Maintenance is
``acid_compact(purge_deletes=True)`` then ``acid_vacuum``. A traced run
also checks and times the catalog passes (catalog.py), the analytic reads
that run beside the writes.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import catalog
from gen import m1_bars, symbols
from spans import quantile

N_SYMBOLS, INIT_DAYS, MAX_CYCLES = 8, 2, 40
CYCLES_PER_ROUND = 2  # cycles between two maintenance requests
DAY0 = np.datetime64("2024-01-01", "D")
REDELIVER = 0.02
N_DELETE = 5
MAIN_KIND = "cycle"
KEY = ("symbol", "ts")
COLS = ["ts", "open", "high", "low", "close", "volume", "symbol"]
META = {"source": "ibkr", "market": "crypto", "timeframe": "M1",
        "exchange": "PAXOS", "what_to_show": "AGGTRADES", "vendor": "ibkr",
        "tz": "UTC"}


class State:
    def __init__(self, bench):
        self.syms = symbols(N_SYMBOLS)
        self.bars = m1_bars(bench.seed, self.syms, str(DAY0),
                            INIT_DAYS + MAX_CYCLES)
        bars = self.bars.copy()
        bars["day"] = (bars["ts"].values.astype("datetime64[D]")
                       - DAY0).astype(int)
        # what the lake and the table must hold: bars with revisions applied
        self.truth = bars.set_index(["symbol", "ts"]).sort_index()
        self.rng = np.random.default_rng([bench.seed, 2])
        w = bench.work
        self.lake, self.acid = f"{w}/lake", f"{w}/acid"
        self.land, self.ckpt = f"{w}/landing", f"{w}/checkpoint"
        os.makedirs(self.land)
        self.live = self.truth.index[self.truth["day"] < INIT_DAYS]
        self.cycle = 0
        self.figures: dict[str, list[float]] = {
            k: [] for k in ("land_s", "merge_s", "delete_s", "snap_read_s",
                            "maintain_s", "acid_space_amp")}
        self.layer: dict[str, list[float]] = {}

    def day(self, d: int) -> pd.DataFrame:
        return self.truth[self.truth["day"] == d]


def _frame(bars: pd.DataFrame) -> pd.DataFrame:
    """Candle columns of ``bars`` as the feed delivers them."""
    out = bars.reset_index()[COLS]
    return out.assign(ts=out["ts"].dt.tz_localize("UTC"), **META)


def _acid_frame(spark, bars: pd.DataFrame):
    out = bars.reset_index()[COLS]
    return spark.createDataFrame(out.assign(
        month=out["ts"].dt.strftime("%Y-%m")))


def setup(bench) -> State:
    from backtest_crew_datalake_spark.sources import acid_write
    from backtest_crew_datalake_spark.streaming.ingest import (
        stream_ingest_candles)

    st = State(bench)
    init = st.truth[st.truth["day"] < INIT_DAYS]
    _frame(init).to_parquet(f"{st.land}/init.parquet", index=False)
    stream_ingest_candles(bench.spark, st.land, st.lake, st.ckpt)
    acid_write(bench.spark, _acid_frame(bench.spark, init), st.acid,
               partition_by=("symbol", "month"))
    st.catalog = catalog.setup(bench)
    return st


def warm(bench, st: State) -> None:
    again = m1_bars(bench.seed, st.syms, str(DAY0), INIT_DAYS + MAX_CYCLES)
    bench.detail["inputs_identical"] = bool(again.equals(st.bars))
    bench.detail["corpus_sha1"] = catalog.digest(st.catalog)
    if bench.trace:
        catalog.oracle_pass(bench, st.catalog)
    bench.check(bench.detail["inputs_identical"],
                "one seed gave two different inputs")
    bench.check(bench.detail["corpus_sha1"] == catalog.CORPUS_SHA1,
                "the catalog corpus differs from the committed copy")
    # the write paths run once before the clock: the first cycle of a fresh
    # JVM is mostly JIT warm-up
    _cycle(bench, st, "warm.cycle")


def run(bench, st: State) -> str:
    def one_round():
        for _ in range(CYCLES_PER_ROUND):
            if st.cycle < MAX_CYCLES:
                _cycle(bench, st, MAIN_KIND)
        _maintain(bench, st)

    bench.rounds(one_round)
    if bench.trace:
        catalog.timed_passes(bench, st.catalog)
        catalog.report(bench, st.catalog)
    f = st.figures
    bench.detail.update({
        "cycles": st.cycle,
        **{k.replace("_s", "_p50_s") if k.endswith("_s") else k:
           quantile(v, 0.5) for k, v in f.items() if v}})
    for k, v in st.layer.items():
        bench.layer[k] = sum(v) / len(v)
    return MAIN_KIND


def _files(root: str, suffix: str = ".parquet") -> dict[str, int]:
    """Path -> bytes of every file under ``root`` ending in ``suffix``."""
    return {os.path.join(d, n): os.path.getsize(os.path.join(d, n))
            for d, _, names in os.walk(root) for n in names
            if n.endswith(suffix)}


def _cycle(bench, st: State, kind: str) -> None:
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources import read_range
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete_mor, acid_read, acid_upsert)
    from backtest_crew_datalake_spark.streaming.ingest import (
        stream_ingest_candles)

    spark, span = bench.spark, bench.tracer.span
    d = INIT_DAYS + st.cycle
    st.cycle += 1
    prev = st.day(d - 1)
    red = prev.iloc[np.sort(st.rng.choice(len(prev), int(len(prev) * REDELIVER),
                                          replace=False))].copy()
    red["close"] = (red["close"] + 0.01).round(2)
    batch = pd.concat([st.day(d), red])
    dels = st.day(d).iloc[st.rng.choice(len(st.day(d)), N_DELETE,
                                        replace=False)]
    sym = st.syms[int(st.rng.integers(0, N_SYMBOLS))]
    path = f"{st.land}/day{d:03d}.parquet"
    lo, hi = str(DAY0 + d - 1), str(DAY0 + d + 1)
    before = _files(f"{st.lake}/data") if bench.trace else {}
    keys = spark.createDataFrame(dels.reset_index()[list(KEY)])
    # the file lands before the request: the clock runs from landed to
    # visible, and the merge reads the same file
    _frame(batch).to_parquet(path, index=False)
    new = spark.read.parquet(path).select(
        *COLS, F.date_format("ts", "yyyy-MM").alias("month"))

    with bench.request(kind) as rq:
        t0 = time.perf_counter()
        with span("streaming.stream_ingest_candles", action=True):
            q = stream_ingest_candles(spark, st.land, st.lake, st.ckpt,
                                      available_now=True)
        with span("lake.read_range"):
            back = read_range(spark, st.lake, symbol=st.syms,
                              date_from=lo, date_to=hi)
        with span("action.toPandas"):
            got = back.toPandas()
        t1 = time.perf_counter()
        with span("acid.acid_upsert", action=True):
            acid_upsert(spark, new, st.acid, key=KEY,
                        partition_by=("symbol", "month"))
        t2 = time.perf_counter()
        with span("acid.acid_delete_mor", action=True):
            acid_delete_mor(spark, st.acid, keys, key=KEY)
        t3 = time.perf_counter()
        with span("acid.acid_read"):
            snap = acid_read(spark, st.acid, partition_filter={"symbol": sym})
        with span("action.collect"):
            n, total = snap.agg(F.count("*"), F.sum("close")).collect()[0]
        t4 = time.perf_counter()
    if not rq.ok:
        return
    timed = kind == MAIN_KIND
    if timed:
        for k, v in (("land_s", t1 - t0), ("merge_s", t2 - t1),
                     ("delete_s", t3 - t2), ("snap_read_s", t4 - t3)):
            st.figures[k].append(v)

    # the model: revised closes win, the new day's keys are live, the
    # deleted keys are not
    st.truth.loc[red.index, "close"] = red["close"]
    st.live = st.live.union(batch.index).difference(dels.index)
    want = st.truth[(st.truth["day"] >= d - 1) & (st.truth["day"] <= d)]
    got = got.set_index(["symbol", "ts"]).sort_index()
    cols = COLS[1:-1]
    bench.check(len(got) == len(want) and np.array_equal(
        got[cols].to_numpy(), want[cols].to_numpy()),
        f"lake read-back of days {d - 1}..{d}: {len(got)} rows, "
        f"{len(want)} expected, or values differ (keep-last)")
    live = st.truth.loc[st.live]
    live = live[live.index.get_level_values("symbol") == sym]
    bench.check(n == len(live) and np.isclose(total, live["close"].sum(),
                                               rtol=1e-12),
                f"snapshot of {sym}: {n} rows, {len(live)} expected")
    if bench.trace and timed:
        prog = q.recentProgress
        dur = [p.get("durationMs", {}) for p in prog]
        after = _files(f"{st.lake}/data")
        new_files = set(after) - set(before)
        for k, v in (
                ("streaming.batches", len(prog)),
                ("streaming.add_batch_ms", sum(x.get("addBatch", 0) for x in dur)),
                ("streaming.query_planning_ms",
                 sum(x.get("queryPlanning", 0) for x in dur)),
                ("streaming.wal_commit_ms", sum(x.get("walCommit", 0) for x in dur)),
                ("writer.files_written", len(new_files)),
                ("writer.bytes_written", sum(after[p] for p in new_files)),
                ("writer.files_in_lake", len(after))):
            st.layer.setdefault(k, []).append(v)


def _space_amp(bench, st: State) -> float:
    """Bytes of the table on disk / bytes of its live snapshot written
    fresh with the same partitioning."""
    from backtest_crew_datalake_spark.sources.acid import acid_read

    fresh = f"{bench.work}/fresh"
    (acid_read(bench.spark, st.acid).write.mode("overwrite")
     .partitionBy("symbol", "month").parquet(fresh))
    return sum(_files(st.acid, "").values()) / sum(_files(fresh, "").values())


def _maintain(bench, st: State) -> None:
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.acid import (
        acid_compact, acid_file_metadata, acid_history, acid_read,
        acid_vacuum)

    span = bench.tracer.span
    st.figures["acid_space_amp"].append(_space_amp(bench, st))
    before = {}
    if bench.trace:
        before = _files(st.acid)
        kinds = dict(acid_file_metadata(bench.spark, st.acid)
                     .groupBy("kind").count().collect())
        for k, v in (("acid.versions", len(acid_history(st.acid))),
                     ("acid.live_files", kinds.get("data", 0)),
                     ("acid.delete_files",
                      sum(v for k2, v in kinds.items() if k2 != "data"))):
            st.layer.setdefault(k, []).append(v)
    with bench.request("maintain") as rq:
        with span("acid.acid_compact", action=True):
            acid_compact(bench.spark, st.acid, purge_deletes=True)
        with span("acid.acid_vacuum", action=True):
            vacuumed = acid_vacuum(st.acid)
    if not rq.ok:
        return
    st.figures["maintain_s"].append(bench.tracer.requests[-1]["s"])
    n = acid_read(bench.spark, st.acid).agg(F.count("*")).collect()[0][0]
    bench.check(n == len(st.live),
                f"snapshot after maintenance: {n} rows, {len(st.live)} live")
    if bench.trace:
        after = _files(st.acid)
        for k, v in (
                ("acid.bytes_rewritten",
                 sum(after[p] for p in set(after) - set(before))),
                ("acid.files_vacuumed", len(vacuumed))):
            st.layer.setdefault(k, []).append(v)
