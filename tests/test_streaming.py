"""Streaming ingest: landing-dir → foreachBatch keyed upsert; idempotent
across replayed/duplicate files; watermarked streaming resample."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from backtest_crew_datalake_spark.schemas import enforce_schema
from backtest_crew_datalake_spark.sources.lake import read_range
from backtest_crew_datalake_spark.sources.synth import make_m1
from backtest_crew_datalake_spark.streaming.ingest import (
    stream_ingest_candles, streaming_resample,
)


def test_stream_ingest_idempotent_upsert(spark, tmp_path):
    landing = str(tmp_path / "landing")
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    m1 = enforce_schema(
        make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=42),
        timeframe="M1",
    )
    first = m1.where(F.col("ts") < "2024-01-01 12:00:00")
    first.write.mode("overwrite").parquet(landing)
    stream_ingest_candles(spark, landing, lake, ckpt)
    assert read_range(spark, lake, symbol="BTC-USD").count() == 720

    # second batch overlaps the first (duplicate deliveries) + extends it
    second = m1.where(F.col("ts") >= "2024-01-01 08:00:00")
    second.write.mode("append").parquet(landing)
    stream_ingest_candles(spark, landing, lake, ckpt)
    got = read_range(spark, lake, symbol="BTC-USD")
    assert got.count() == 1440  # overlap deduped on the PK
    ts = got.agg(F.min("ts"), F.max("ts")).collect()[0]
    assert ts[0] == pd.Timestamp("2024-01-01 00:00:00")
    assert ts[1] == pd.Timestamp("2024-01-01 23:59:00")


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "dsrc")
    out_dir = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    from backtest_crew_datalake_spark.schemas import CANDLE_SCHEMA
    from backtest_crew_datalake_spark.streaming.ingest import streaming_dedup

    m1 = enforce_schema(
        make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=5),
        timeframe="M1",
    ).where(F.col("ts") < "2024-01-01 01:00:00")
    # duplicate delivery: the same 60 bars written twice
    m1.write.mode("overwrite").parquet(src)
    m1.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 120

    stream = spark.readStream.schema(CANDLE_SCHEMA).parquet(src)
    deduped = streaming_dedup(stream, watermark="2 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out_dir).count() == 60


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """Sessions spanning micro-batch boundaries must merge via state: batch 1
    ends mid-session; batch 2 continues it, then a gap closes it."""
    import time

    src = str(tmp_path / "ssrc")
    out_dir = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")

    from backtest_crew_datalake_spark.streaming.stateful import (
        stateful_sessionize,
    )

    def write_batch(rows, mode):
        pdf = spark.createDataFrame(rows, "user_id long, ts timestamp")
        pdf.coalesce(1).write.mode(mode).parquet(src)

    b = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    # batch 1: user 1 events at 00:00, 00:05 (open session in state)
    write_batch([(1, b.to_pydatetime()), (1, (b + 5 * m).to_pydatetime())],
                "overwrite")

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    sessions = stateful_sessionize(stream, timeout_seconds=1800)

    def run_once():
        q = (
            sessions.writeStream.outputMode("append")
            .format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out_dir).count() == 0  # nothing closed yet

    # batch 2: continuation at 00:10, then a >30min gap at 01:00 closes it
    write_batch([(1, (b + 10 * m).to_pydatetime()),
                 (1, (b + 60 * m).to_pydatetime())], "append")
    run_once()
    out = spark.read.parquet(out_dir).toPandas()
    assert len(out) == 1
    s = out.iloc[0]
    assert s.user_id == 1 and s.n_events == 3
    assert pd.Timestamp(s.session_start) == b          # started in batch 1
    assert pd.Timestamp(s.session_end) == b + 10 * m   # extended in batch 2


def test_streaming_session_window(spark, tmp_path):
    """Native session_window: two sessions for user 1 (gap > 30 min), one
    for user 2; all sealed because a late sentinel advances the watermark."""
    src = str(tmp_path / "swsrc")
    out_dir = str(tmp_path / "swout")
    ckpt = str(tmp_path / "swckpt")

    from backtest_crew_datalake_spark.streaming.ingest import streaming_sessions

    b = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    rows = [
        (1, b), (1, b + 5 * m), (1, b + 10 * m),    # session A (3 events)
        (1, b + 120 * m),                            # session B
        (2, b + 30 * m),                             # session C
        (99, b + 600 * m),                           # watermark sentinel
    ]
    spark.createDataFrame(
        [(u, t.to_pydatetime()) for u, t in rows], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        streaming_sessions(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir).toPandas()
    u1 = out[out.user_id == 1].sort_values("session_start")
    assert len(u1) == 2
    assert u1.iloc[0].n_events == 3
    assert pd.Timestamp(u1.iloc[0].session_start) == b
    # session end = last event + gap (session_window semantics)
    assert pd.Timestamp(u1.iloc[0].session_end) == b + 40 * m
    assert len(out[out.user_id == 2]) == 1


def test_streaming_resample_counts(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")

    m1 = enforce_schema(
        make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=1),
        timeframe="M1",
    )
    m1.write.mode("overwrite").parquet(src_dir)

    from backtest_crew_datalake_spark.schemas import CANDLE_SCHEMA
    stream = spark.readStream.schema(CANDLE_SCHEMA).parquet(src_dir)
    agg = streaming_resample(stream, tf="H1", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir)
    # append mode emits only buckets closed by the watermark: 24 hourly
    # buckets minus the tail still open — expect >= 22 closed buckets
    assert out.count() >= 22
    row = out.orderBy("bucket").limit(1).collect()[0]
    assert row["bucket"] == pd.Timestamp("2024-01-01 00:00:00")
    batch = m1.where(
        (F.col("ts") >= "2024-01-01 00:00:00") & (F.col("ts") < "2024-01-01 01:00:00")
    )
    exp = batch.agg(F.max("high"), F.min("low"), F.sum("volume")).collect()[0]
    assert abs(row["high"] - exp[0]) < 1e-9
    assert abs(row["low"] - exp[1]) < 1e-9
    assert abs(row["volume"] - exp[2]) < 1e-9


def test_streaming_or_levels_matches_batch(spark, tmp_path):
    """streaming_or_levels emits day 1 when day 2's first bar arrives, and
    the emitted row matches build_or_levels on the same data exactly
    (including the NYC tz localization and the retest quirk)."""
    src = str(tmp_path / "olsrc")
    out_dir = str(tmp_path / "olout")
    ckpt = str(tmp_path / "olckpt")

    from backtest_crew_datalake_spark.operators.levels import build_or_levels
    from backtest_crew_datalake_spark.streaming.stateful import (
        streaming_or_levels,
    )

    m1 = make_m1(spark, ["BTC-USD", "ETH-USD"], "2024-01-01", "2024-01-02",
                 seed=11).select("symbol", "ts", "open", "high", "low",
                                 "close", "volume")
    day1 = m1.where(F.col("ts") < "2024-01-02")
    day1.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(day1.schema).parquet(src)
    levels = streaming_or_levels(stream, or_window="09:30-10:00",
                                 tz="America/New_York")

    def run_once():
        q = (
            levels.writeStream.outputMode("append")
            .format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    # the only NYC session completed so far (2023-12-31, bars 19:00-23:59)
    # has no OR-window rows -> skipped, exactly like the batch operator
    assert spark.read.parquet(out_dir).count() == 0

    # day 2 bars close the 2024-01-01 NYC session
    m1.where(F.col("ts") >= "2024-01-02").write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out_dir).toPandas()

    batch = build_or_levels(
        m1, or_window="09:30-10:00", tz="America/New_York"
    ).toPandas()
    # compare all sessions the stream has sealed (all but the open tail)
    sealed = got.sort_values(["symbol", "session_date"]).reset_index(drop=True)
    want = (
        batch[batch.session_date.isin(set(sealed.session_date))]
        .sort_values(["symbol", "session_date"]).reset_index(drop=True)
    )
    assert len(sealed) == len(want) and len(sealed) >= 2
    for col in ["session_date", "tz", "or_start", "or_end", "or_high",
                "or_low", "break_dir", "break_ts", "retest_ts",
                "retest_price", "symbol"]:
        a, b = sealed[col], want[col]
        if a.dtype.kind == "f":
            assert ((a - b).abs().fillna(0) < 1e-9).all(), col
            assert (a.isna() == b.isna()).all(), col
        else:
            assert (a.astype(str).fillna("NA") == b.astype(str).fillna("NA")).all(), col


def test_binance_poller_to_lake(spark, tmp_path):
    """Offline end-to-end live path: fake klines endpoint -> poller appends
    to landing (cursor advances, no refetch of old bars) -> streaming upsert
    into the lake dedupes the crash-replay overlap."""
    import json as _json
    from datetime import datetime
    from urllib.parse import parse_qs, urlparse

    from backtest_crew_datalake_spark.streaming.poller import (
        poll_binance_to_landing,
    )
    from backtest_crew_datalake_spark.sources.connectors import TokenBucket

    base_ms = int(pd.Timestamp("2024-01-01 00:00:00").timestamp() * 1000)
    feed_end = {"minutes": 10}  # grows between polls
    calls = []

    def fake_get(url):
        q = parse_qs(urlparse(url).query)
        calls.append(int(q["startTime"][0]))
        lo = int(q["startTime"][0])
        hi = base_ms + feed_end["minutes"] * 60_000
        rows = []
        t = max(lo, base_ms)
        while t < hi and len(rows) < 1000:
            p = 100.0 + (t - base_ms) / 60_000
            rows.append([t, str(p), str(p + 1), str(p - 1), str(p), "2.0"])
            t += 60_000
        return 200, _json.dumps(rows).encode()

    landing = str(tmp_path / "landing")
    clock = {"now": datetime(2024, 1, 1, 0, 10)}
    slept = []
    bucket = TokenBucket(5000, 60.0, sleep=lambda s: slept.append(s))

    n1 = poll_binance_to_landing(
        spark, "BTC-USD", landing, start=datetime(2024, 1, 1, 0, 0),
        iterations=1, http_get=fake_get, bucket=bucket,
        now=lambda: clock["now"], sleep=lambda s: None)
    assert n1 == 10  # bar_ends 00:01..00:10

    # feed grows; second poll fetches ONLY the delta (cursor advanced)
    feed_end["minutes"] = 20
    clock["now"] = datetime(2024, 1, 1, 0, 20)
    n2 = poll_binance_to_landing(
        spark, "BTC-USD", landing, start=datetime(2024, 1, 1, 0, 0),
        iterations=1, http_get=fake_get, bucket=bucket,
        now=lambda: clock["now"], sleep=lambda s: None)
    assert n2 == 10
    assert calls[-1] >= base_ms + 9 * 60_000  # resumed past poll-1 bars

    landed = spark.read.parquet(landing)
    assert landed.count() == 20
    assert landed.select("ts").distinct().count() == 20

    # crash replay: rewind the cursor (simulates crash after append,
    # before cursor write) -> duplicate landing rows, deduped by the lake
    from backtest_crew_datalake_spark.streaming.poller import _write_cursor
    _write_cursor(landing, "BTC-USD", datetime(2024, 1, 1, 0, 15))
    n3 = poll_binance_to_landing(
        spark, "BTC-USD", landing, start=datetime(2024, 1, 1, 0, 0),
        iterations=1, http_get=fake_get, bucket=bucket,
        now=lambda: clock["now"], sleep=lambda s: None)
    assert n3 == 5  # 00:16..00:20 re-landed
    assert spark.read.parquet(landing).count() == 25

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    stream_ingest_candles(spark, landing, lake, ckpt)
    got = read_range(spark, lake, symbol="BTC-USD", source="binance")
    assert got.count() == 20  # overlap deduped on the PK


def test_streaming_interval_join(spark, tmp_path):
    """Stream-stream interval join: left events pick up right events of the
    same key within the lookback window; outside-window and other-key rows
    don't pair. Matches the equivalent batch join exactly."""
    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_interval_join,
    )

    lsrc, rsrc = str(tmp_path / "lsrc"), str(tmp_path / "rsrc")
    out_dir, ckpt = str(tmp_path / "ijout"), str(tmp_path / "ijckpt")
    b = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)

    lrows = [(1, b + 40 * m, 1.0), (1, b + 90 * m, 2.0), (2, b + 40 * m, 3.0)]
    rrows = [(1, b + 20 * m, 10.0),   # within 30min of left@40
             (1, b + 5 * m, 20.0),    # outside lookback of left@40
             (1, b + 80 * m, 30.0),   # within 30min of left@90
             (3, b + 39 * m, 40.0)]   # other key
    schema = "user_id long, ts timestamp, value double"
    spark.createDataFrame([(u, t.to_pydatetime(), v) for u, t, v in lrows],
                          schema).write.parquet(lsrc)
    spark.createDataFrame([(u, t.to_pydatetime(), v) for u, t, v in rrows],
                          schema).write.parquet(rsrc)

    ls = spark.readStream.schema(schema).parquet(lsrc)
    rs = spark.readStream.schema(schema).parquet(rsrc)
    j = streaming_interval_join(ls, rs, lookback="30 minutes",
                                watermark="2 hours")
    q = (j.writeStream.outputMode("append").format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.l_value, r.r_value)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {(1, 1.0, 10.0), (1, 2.0, 30.0)}

    # batch equivalence
    lb = spark.read.parquet(lsrc)
    rb = spark.read.parquet(rsrc)
    cond = ((lb.user_id == rb.user_id) & (rb.ts <= lb.ts)
            & (rb.ts >= lb.ts - F.expr("INTERVAL 30 minutes")))
    batch = {(r[0], r[1], r[2]) for r in
             lb.join(rb, cond).select(lb.user_id, lb.value, rb.value).collect()}
    assert got == batch


def test_streaming_or_levels_drops_late_prior_day_bars(spark, tmp_path):
    """A late out-of-order bar from an already-finalized session day must be
    DROPPED — rolling state back would prematurely emit the open day's
    partial row and strand state on the stale day."""
    import datetime as dt

    from backtest_crew_datalake_spark.streaming.stateful import (
        streaming_or_levels,
    )

    src = str(tmp_path / "latesrc")
    out_dir = str(tmp_path / "lateout")
    ckpt = str(tmp_path / "lateckpt")
    schema = ("symbol string, ts timestamp, open double, high double, "
              "low double, close double, volume double")

    def bar(day, h, m, hi, lo, cl):
        return ("BTC-USD", dt.datetime(2024, 1, day, h, m),
                cl, hi, lo, cl, 1.0)

    def write(rows, mode):
        spark.createDataFrame(rows, schema).write.mode(mode).parquet(src)

    def run_once(levels):
        q = (levels.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    write([bar(1, 0, 10, 10.0, 9.0, 9.5),    # day1 OR window
           bar(1, 2, 0, 11.0, 8.0, 10.5),    # day1 post-window
           bar(2, 0, 10, 20.0, 19.0, 19.5)], "overwrite")  # opens day2
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    levels = streaming_or_levels(stream, or_window="00:00-01:00", tz="UTC")
    run_once(levels)
    assert spark.read.parquet(out_dir).count() == 1  # day1 sealed

    write([bar(1, 5, 0, 99.0, 1.0, 50.0)], "append")  # LATE day1 bar
    run_once(levels)
    got = spark.read.parquet(out_dir)
    assert got.count() == 1  # no premature day2 emission, no day1 re-emit

    write([bar(3, 0, 10, 30.0, 29.0, 29.5)], "append")  # day3 seals day2
    run_once(levels)
    got = spark.read.parquet(out_dir).toPandas().sort_values("session_date")
    assert len(got) == 2
    d2 = got.iloc[1]
    # day2 OR levels are unpolluted by the dropped late bar
    assert d2.or_high == 20.0 and d2.or_low == 19.0


def test_streaming_or_levels_emit_on_timeout(spark, tmp_path):
    """With emit_timeout_delay, a quiet symbol's open session flushes when
    the WATERMARK (driven by any symbol) passes its end-of-day — it no
    longer waits for that symbol's own next bar — and the flushed row
    matches build_or_levels exactly."""
    import datetime as dt

    from backtest_crew_datalake_spark.operators.levels import build_or_levels
    from backtest_crew_datalake_spark.streaming.stateful import (
        streaming_or_levels,
    )

    src = str(tmp_path / "tosrc")
    out_dir = str(tmp_path / "toout")
    ckpt = str(tmp_path / "tockpt")
    schema = ("symbol string, ts timestamp, open double, high double, "
              "low double, close double, volume double")

    def bar(sym, day, h, m, hi, lo, cl):
        return (sym, dt.datetime(2024, 1, day, h, m), cl, hi, lo, cl, 1.0)

    def write(rows, mode):
        spark.createDataFrame(rows, schema).write.mode(mode).parquet(src)

    def run_once(levels):
        q = (levels.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    btc_bars = [bar("BTC-USD", 1, 0, 10, 10.0, 9.0, 9.5),
                bar("BTC-USD", 1, 0, 20, 10.5, 9.2, 10.2),
                bar("BTC-USD", 1, 2, 0, 11.0, 8.0, 10.6)]
    write(btc_bars, "overwrite")
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    levels = streaming_or_levels(stream, or_window="00:00-01:00", tz="UTC",
                                 emit_timeout_delay="0 seconds")
    run_once(levels)
    assert spark.read.parquet(out_dir).count() == 0  # day still open

    # a DIFFERENT symbol's day-2 bar advances the global watermark past
    # BTC's 2024-01-01 midnight -> BTC's open session times out and flushes
    write([bar("ETH-USD", 2, 0, 10, 5.0, 4.0, 4.5)], "append")
    run_once(levels)
    run_once(levels)  # timeout fires in the batch AFTER the watermark moves
    got = spark.read.parquet(out_dir).toPandas()
    got = got[got.symbol == "BTC-USD"]
    assert len(got) == 1

    want = build_or_levels(
        spark.createDataFrame(btc_bars, schema),
        or_window="00:00-01:00", tz="UTC",
    ).toPandas().iloc[0]
    g = got.iloc[0]
    for col in ["session_date", "or_high", "or_low", "break_dir",
                "break_ts", "retest_ts", "retest_price"]:
        assert str(g[col]) == str(want[col]), col


def test_stateful_funnel_across_batches(spark, tmp_path):
    """Funnel stages crossing micro-batch boundaries advance via state:
    user 1 signs up in batch 1 and clicks+purchases in batch 2; user 2's
    click arrives BEFORE their signup (within batch 1, sorted) so it must
    not advance past step 1; a replayed older click in batch 2 must not
    advance user 2 either (strictly-after rule)."""
    src = str(tmp_path / "fsrc")
    out_dir = str(tmp_path / "fout")
    ckpt = str(tmp_path / "fckpt")

    from backtest_crew_datalake_spark.streaming.stateful import stateful_funnel

    def write_batch(rows, mode):
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string")
        df.coalesce(1).write.mode(mode).parquet(src)

    b = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)

    write_batch([
        (1, b.to_pydatetime(), "signup"),
        (2, b.to_pydatetime(), "click"),               # before signup
        (2, (b + 2 * m).to_pydatetime(), "signup"),
    ], "overwrite")

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string").parquet(src)
    funnel = stateful_funnel(stream)

    def run_once():
        q = (
            funnel.writeStream.outputMode("append")
            .format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    out = spark.read.parquet(out_dir).toPandas()
    # batch 1: both users reach step 1 (signup); user 2's early click ignored
    assert set(zip(out.user_id, out.step)) == {(1, 1), (2, 1)}

    write_batch([
        (1, (b + 5 * m).to_pydatetime(), "click"),
        (1, (b + 9 * m).to_pydatetime(), "purchase"),
        (2, (b + 1 * m).to_pydatetime(), "click"),     # older than signup
    ], "append")
    run_once()
    out = spark.read.parquet(out_dir).toPandas()
    got = set(zip(out.user_id, out.step, out.event_type))
    assert got == {
        (1, 1, "signup"), (1, 2, "click"), (1, 3, "purchase"),
        (2, 1, "signup"),
    }


def test_stateful_retention_across_batches(spark, tmp_path):
    """Retention increments dedupe through state across micro-batches: a
    second event in an already-seen week emits nothing; a new week emits
    exactly one increment; the aggregated output matches the batch
    q_evt_retention on the same events."""
    src = str(tmp_path / "rsrc")
    out_dir = str(tmp_path / "rout")
    ckpt = str(tmp_path / "rckpt")

    from backtest_crew_datalake_spark.streaming.stateful import (
        stateful_retention,
    )

    def write_batch(rows, mode):
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        df.coalesce(1).write.mode(mode).parquet(src)

    w0 = pd.Timestamp("2024-01-01")  # a Monday
    d = pd.Timedelta(days=1)
    w1 = w0 + 7 * d

    write_batch([
        (1, w0.to_pydatetime()), (1, (w0 + 2 * d).to_pydatetime()),
        (2, (w0 + 3 * d).to_pydatetime()),
    ], "overwrite")

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    ret = stateful_retention(stream)

    def run_once():
        q = (
            ret.writeStream.outputMode("append")
            .format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    out = spark.read.parquet(out_dir).toPandas()
    # week-0 increments only, deduped within the batch
    assert sorted(zip(out.user_id, out.week_offset)) == [(1, 0), (2, 0)]

    write_batch([
        (1, (w1 + d).to_pydatetime()),      # user 1 retained in week 1
        (2, (w0 + 4 * d).to_pydatetime()),  # user 2 again in week 0: no emit
        (3, (w1 + 2 * d).to_pydatetime()),  # new cohort
    ], "append")
    run_once()
    out = spark.read.parquet(out_dir).toPandas()
    agg = out.groupby(["cohort_week", "week_offset"]).size().to_dict()
    assert agg == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1,
                   ("2024-01-08", 0): 1}


def test_streaming_contamination_matches_batch(spark, tmp_path):
    """Per-batch decontamination over a landing dir equals the batch
    operator on the union of all landed docs (docs are self-contained, so
    no cross-batch state is needed)."""
    src = str(tmp_path / "csrc")
    out_dir = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")

    from backtest_crew_datalake_spark.pipeline.sampling import contamination
    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"])
    clean = "one two three four five six seven eight nine ten"
    dirty = "alpha beta gamma delta epsilon zeta plus extra words here"

    def write_batch(rows, mode):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode(mode).parquet(src)

    write_batch([(0, clean), (1, dirty)], "overwrite")
    streaming_contamination(spark, src, bench, out_dir, ckpt)
    write_batch([(2, dirty + " more"), (3, clean + " again")], "append")
    streaming_contamination(spark, src, bench, out_dir, ckpt)

    got = {r["doc_id"]: (r["n_shared"], r["n_shingles"])
           for r in spark.read.parquet(out_dir).collect()}
    all_docs = spark.createDataFrame(
        [(0, clean), (1, dirty), (2, dirty + " more"), (3, clean + " again")],
        "doc_id long, text string")
    want = {r["doc_id"]: (r["n_shared"], r["n_shingles"])
            for r in contamination(all_docs, bench).collect()}
    assert got == want and set(got) == {1, 2}  # only the dirty docs flagged


def test_streaming_hll_matches_batch_and_is_idempotent(spark, tmp_path):
    """Incremental HLL over a landing dir: after N micro-batches the state
    registers equal hll_build over the union (merge law), the estimate
    matches the batch estimate, and replaying the stream (same files, fresh
    checkpoint) leaves the state unchanged — sketch merge is idempotent,
    so at-least-once foreachBatch needs no batch_id bookkeeping."""
    from pyspark.sql import functions as F
    from backtest_crew_datalake_spark.pipeline.sketch import (
        hll_build, hll_estimate,
    )
    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_hll_distinct,
    )

    src = str(tmp_path / "hsrc")
    state = str(tmp_path / "hstate")
    ckpt = str(tmp_path / "hckpt")
    schema = "user_id long, day string"

    def write_batch(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode(mode).parquet(src)

    b1 = [(u, "2024-01-01") for u in range(40)]
    b2 = [(u, "2024-01-02") for u in range(20, 60)]
    key = "concat(user_id, '|', day)"

    write_batch(b1, "overwrite")
    streaming_hll_distinct(spark, src, state, ckpt, schema, key, p=6)
    write_batch(b2, "append")
    streaming_hll_distinct(spark, src, state, ckpt, schema, key, p=6)

    got = sorted(map(tuple, spark.read.parquet(state)
                 .select("reg", "rho").collect()))
    whole = spark.createDataFrame(b1 + b2, schema).select(
        F.expr(key).alias("k"))
    want = sorted(map(tuple, hll_build(whole, "k", p=6)
                  .select(F.col("reg").cast("long"),
                          F.col("rho").cast("int")).collect()))
    assert got == want

    est = hll_estimate(
        spark, spark.read.parquet(state), p=6).collect()[0].estimate
    n_true = len(set(b1 + b2))
    assert abs(est - n_true) / n_true < 0.5  # p=6 coarse envelope

    # replay: same landing files, FRESH checkpoint -> all batches re-run
    streaming_hll_distinct(spark, src, state, str(tmp_path / "hckpt2"),
                           schema, key, p=6)
    again = sorted(map(tuple, spark.read.parquet(state)
                   .select("reg", "rho").collect()))
    assert again == got

    # crash-window recovery: simulate a crash between the two commit
    # renames (state renamed to bak, tmp never swapped in) — the next
    # merge must restore the bak BEFORE reading, so no registers from
    # already-checkpointed batches are lost
    import os

    bak = str(tmp_path / ".__hll_bak_hstate")
    os.rename(state, bak)
    assert not os.path.exists(state)
    b3 = [(u, "2024-01-03") for u in range(5)]
    write_batch(b3, "append")
    streaming_hll_distinct(spark, src, state, ckpt, schema, key, p=6)
    whole3 = spark.createDataFrame(b1 + b2 + b3, schema).select(
        F.expr(key).alias("k"))
    want3 = sorted(map(tuple, hll_build(whole3, "k", p=6)
                   .select(F.col("reg").cast("long"),
                           F.col("rho").cast("int")).collect()))
    got3 = sorted(map(tuple, spark.read.parquet(state)
                  .select("reg", "rho").collect()))
    assert got3 == want3          # bak restored, old registers kept
    assert not os.path.exists(bak)


def test_streaming_curation_gates_and_cross_batch_dedup(spark, tmp_path):
    """The streaming curation gate applies the same 4 stages as
    q_doc_curation per micro-batch, and exact dedup is CROSS-BATCH: a
    digest accepted by an earlier run is a duplicate in every later one,
    while the first batch's own dups dedupe within the batch
    (keep-lowest-id)."""
    src = str(tmp_path / "qsrc")
    out = str(tmp_path / "qout")
    ckpt = str(tmp_path / "qckpt")

    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_curation,
    )

    bench = spark.createDataFrame(
        [(100, "leak one two three four five six seven eight nine")],
        ["doc_id", "text"],
    )
    good = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu")
    good2 = ("omicron pi rho sigma tau upsilon phi chi psi omega north "
             "south")
    repet = " ".join(["loop loop loop"] * 6)
    contaminated = ("leak one two three four five six seven eight nine "
                    "and then some tail words follow")

    def land(rows, mode):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode(mode).parquet(src)

    # batch 0: good doc, its exact in-batch dup (higher id), a repetitive
    # doc, a contaminated doc, a too-short (low-quality) doc
    land(
        [(10, good, "a"), (11, good, "a"), (12, repet, "b"),
         (13, contaminated, "b"), (14, "x x x x", "c")],
        "overwrite",
    )
    streaming_curation(spark, src, bench, out, ckpt)
    led0 = {r.doc_id: r.status
            for r in spark.read.parquet(f"{out}/ledger").collect()}
    assert led0 == {10: "kept", 11: "duplicate", 12: "repetitive",
                    13: "contaminated", 14: "low_quality"}

    # batch 1: a cross-batch dup of the accepted doc 10 and a fresh doc
    land([(20, good, "d"), (21, good2, "d")], "append")
    streaming_curation(spark, src, bench, out, ckpt)
    led = {r.doc_id: r.status
           for r in spark.read.parquet(f"{out}/ledger").collect()}
    assert led[20] == "duplicate"       # digest accepted in batch 0
    assert led[21] == "kept"
    acc = {r.doc_id for r in
           spark.read.parquet(f"{out}/accepted").collect()}
    assert acc == {10, 21}


def test_streaming_rollup_cascade_incremental_and_late(spark, tmp_path):
    """The continuous-aggregate cascade equals the batch rollup of the
    union after every run — including a LATE event landing in an
    already-rolled-up minute — and replaying a batch is a no-op."""
    from datetime import datetime as DT

    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.acid import acid_read
    from backtest_crew_datalake_spark.streaming.ingest import (
        _apply_rollup_batch,
        streaming_rollup_cascade,
    )

    src = str(tmp_path / "land")
    out = str(tmp_path / "tiers")
    ckpt = str(tmp_path / "ckpt")
    sch = ("event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")

    def land(rows, mode):
        spark.createDataFrame(rows, sch).coalesce(1) \
            .write.mode(mode).parquet(src)

    b0 = [
        (0, DT(2024, 1, 1, 10, 0, 30), 1, "a", 9.25, ""),
        (1, DT(2024, 1, 1, 10, 0, 45), 1, "a", 1.00, ""),
        (2, DT(2024, 1, 1, 10, 4, 10), 1, "a", 3.50, ""),
        (3, DT(2024, 1, 1, 11, 0, 0), 1, "a", 7.00, ""),
        (4, DT(2024, 1, 1, 10, 30, 0), 1, "b", 4.75, ""),
    ]
    land(b0, "overwrite")
    streaming_rollup_cascade(spark, src, out, ckpt, sch)

    def hour_rows():
        return {
            (r.event_type, r.bucket_ms):
                (r.open, r.high, r.low, r.close, r.volume_cents,
                 r.n_events, r.n_minutes)
            for r in acid_read(spark, f"{out}/hour").collect()
        }

    def batch_expect(rows):
        df = spark.createDataFrame(rows, sch)
        ordk = F.struct("ts", "event_id")
        got = (
            df.groupBy(
                "event_type",
                ((F.unix_millis("ts") / 3_600_000).cast("long") * 3_600_000)
                .alias("bucket_ms"))
            .agg(F.min_by("value", ordk).alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", ordk).alias("close"),
                 F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                 .alias("volume_cents"),
                 F.count("*").alias("n_events"),
                 F.countDistinct(
                     ((F.unix_millis("ts") / 60_000).cast("long")))
                 .alias("n_minutes"))
            .collect()
        )
        return {(r.event_type, r.bucket_ms):
                (r.open, r.high, r.low, r.close, r.volume_cents,
                 r.n_events, r.n_minutes) for r in got}

    assert hour_rows() == batch_expect(b0)

    # batch 1: a LATE event into the already-materialized 10:00 minute of
    # "a" (forces recompute of an old minute + its 5-min + hour), plus a
    # new hour
    b1 = [
        (5, DT(2024, 1, 1, 10, 0, 10), 1, "a", 0.50, ""),   # new open
        (6, DT(2024, 1, 1, 12, 15, 0), 1, "a", 2.25, ""),
    ]
    land(b1, "append")
    streaming_rollup_cascade(spark, src, out, ckpt, sch)
    assert hour_rows() == batch_expect(b0 + b1)
    h10 = hour_rows()[("a", int(DT(2024, 1, 1, 10, 0).timestamp() * 1000))]
    assert h10[0] == 0.50            # late event wins open by earlier ts

    # replay batch 0 verbatim (at-least-once delivery): tiers unchanged
    before = hour_rows()
    _apply_rollup_batch(spark, spark.createDataFrame(b0, sch), 0, out)
    assert hour_rows() == before
    assert acid_read(spark, f"{out}/minute").count() == \
        spark.read.parquet(f"{out}/partials").select(
            "event_type", "bucket_ms").distinct().count()


def test_rollup_partial_log_compaction(spark, tmp_path):
    """The partial log folds into a compacted per-bucket prefix every
    ``compact_every`` batches: consumed batch dirs disappear, the tier
    results stay equal to the batch rollup of the full union (late events
    recompute from compacted history), and replaying the in-flight batch
    after a compaction is still a no-op."""
    from datetime import datetime as DT

    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.acid import acid_read
    from backtest_crew_datalake_spark.streaming.ingest import (
        _apply_rollup_batch, _compact_meta_load, _read_partial_log,
    )

    out = str(tmp_path / "tiers")
    sch = ("event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    batches = [
        [(10 * b + i, DT(2024, 1, 1, 9 + b % 3, 5 * i, 30), 1,
          "ab"[b % 2], float(b + i) + 0.25, "") for i in range(3)]
        for b in range(7)
    ]
    for b, rows in enumerate(batches):
        _apply_rollup_batch(spark, spark.createDataFrame(rows, sch), b, out,
                            compact_every=3)

    meta = _compact_meta_load(out)
    assert meta is not None and meta["through"] >= 2
    import os
    live_dirs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(f"{out}/partials") if d.startswith("batch_id=")
    )
    assert all(b > meta["through"] for b in live_dirs)  # consumed dirs GC'd

    allrows = [r for rows in batches for r in rows]
    df = spark.createDataFrame(allrows, sch)
    ordk = F.struct("ts", "event_id")
    want = {
        (r.event_type, r.bucket_ms):
            (r.open, r.high, r.low, r.close, r.volume_cents, r.n_events,
             r.n_minutes)
        for r in df.groupBy(
            "event_type",
            ((F.unix_millis("ts") / 3_600_000).cast("long") * 3_600_000)
            .alias("bucket_ms"))
        .agg(F.min_by("value", ordk).alias("open"),
             F.max("value").alias("high"),
             F.min("value").alias("low"),
             F.max_by("value", ordk).alias("close"),
             F.sum(F.round(F.col("value") * 100, 0).cast("long"))
             .alias("volume_cents"),
             F.count("*").alias("n_events"),
             F.countDistinct(((F.unix_millis("ts") / 60_000).cast("long")))
             .alias("n_minutes"))
        .collect()
    }

    def hour_rows():
        return {
            (r.event_type, r.bucket_ms):
                (r.open, r.high, r.low, r.close, r.volume_cents,
                 r.n_events, r.n_minutes)
            for r in acid_read(spark, f"{out}/hour").collect()
        }

    assert hour_rows() == want
    # the log read (compacted prefix + live dirs) covers every event once
    assert _read_partial_log(spark, out).agg(
        F.sum("n_events")).first()[0] == len(allrows)

    # late event into batch 0's (already-compacted) hour: recompute pulls
    # the compacted history, not the deleted batch dirs
    late = [(999, DT(2024, 1, 1, 9, 0, 5), 1, "a", 0.01, "")]
    _apply_rollup_batch(spark, spark.createDataFrame(late, sch), 7, out,
                        compact_every=3)
    assert hour_rows() == {
        (r.event_type, r.bucket_ms):
            (r.open, r.high, r.low, r.close, r.volume_cents, r.n_events,
             r.n_minutes)
        for r in spark.createDataFrame(allrows + late, sch).groupBy(
            "event_type",
            ((F.unix_millis("ts") / 3_600_000).cast("long") * 3_600_000)
            .alias("bucket_ms"))
        .agg(F.min_by("value", ordk).alias("open"),
             F.max("value").alias("high"),
             F.min("value").alias("low"),
             F.max_by("value", ordk).alias("close"),
             F.sum(F.round(F.col("value") * 100, 0).cast("long"))
             .alias("volume_cents"),
             F.count("*").alias("n_events"),
             F.countDistinct(((F.unix_millis("ts") / 60_000).cast("long")))
             .alias("n_minutes"))
        .collect()
    }

    # replay the in-flight batch (at-least-once): tiers unchanged
    before = hour_rows()
    _apply_rollup_batch(spark, spark.createDataFrame(late, sch), 7, out,
                        compact_every=3)
    assert hour_rows() == before


def test_streaming_scd2_matches_batch_and_replay(spark, tmp_path):
    """streaming_scd2 over N micro-batches == scd2_build over the whole
    in-order input; replaying the last batch is a content no-op; a stale
    update (older than its key's open version) is dropped."""
    from backtest_crew_datalake_spark.operators.scd import scd2_build
    from backtest_crew_datalake_spark.sources.acid import acid_read
    from backtest_crew_datalake_spark.streaming.ingest import streaming_scd2

    src = str(tmp_path / "land")
    root = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ck")
    schema = "user_id int, ts bigint, seq bigint, tier string"
    b1 = [(1, 100, 1, "silver"), (2, 100, 2, "bronze"),
          (1, 200, 3, "silver")]                   # unchanged -> collapses
    b2 = [(1, 300, 4, "gold"), (2, 300, 5, "bronze"),  # u2 unchanged
          (3, 300, 6, "silver")]
    b3 = [(1, 300, 7, "platinum"),                 # same-ts re-decide
          (2, 50, 8, "gold")]                      # STALE -> dropped

    def snap(df):
        return sorted(
            (r.user_id, r.tier, r.eff_from, r.eff_to, bool(r.is_current))
            for r in df.collect()
        )

    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    streaming_scd2(spark, src, root, ckpt, schema,
                   key=("user_id",), attrs=("tier",))
    for b in (b2, b3):
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        streaming_scd2(spark, src, root, ckpt, schema,
                       key=("user_id",), attrs=("tier",))

    # batch truth: the same events in order, stale row EXCLUDED by contract
    whole = spark.createDataFrame(b1 + b2 + [b3[0]], schema)
    want = snap(scd2_build(whole, key=["user_id"], attrs=["tier"],
                           order_col="seq"))
    got = snap(acid_read(spark, root))
    assert got == want
    assert (1, "platinum", 300, None, True) in got     # same-ts re-decided
    assert all(not (u == 2 and f == 50) for u, _, f, *_ in got)  # stale gone
    # full replay on a FRESH checkpoint (all three batches re-delivered as
    # one): content no-op — the rebuild+keyed-upsert is idempotent
    streaming_scd2(spark, src, root, str(tmp_path / "ck2"), schema,
                   key=("user_id",), attrs=("tier",))
    assert snap(acid_read(spark, root)) == want


def test_streaming_upsert_rejects_constraint_violations(spark, tmp_path):
    """Write-path CHECK constraints compose with the streaming MERGE: a
    micro-batch with violating rows fails the stream LOUDLY before any
    file lands — the table stays at its pre-batch snapshot and a clean
    batch afterwards still goes through (data quality as a gate, not a
    silent filter)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from backtest_crew_datalake_spark.sources.acid import (
        acid_read, acid_set_constraint, acid_write, latest_version,
    )
    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_acid_upsert,
    )

    land = str(tmp_path / "land")
    table = str(tmp_path / "tab")
    schema = "k bigint, v double"
    acid_write(spark, spark.createDataFrame([(1, 1.0)], schema), table)
    acid_set_constraint(spark, table, "v_positive", "v > 0")
    v0 = latest_version(table)

    spark.createDataFrame([(2, 2.0), (3, -3.0)], schema) \
        .coalesce(1).write.mode("append").parquet(land)
    with pytest.raises(StreamingQueryException, match="v_positive"):
        streaming_acid_upsert(spark, land, table, str(tmp_path / "ck1"),
                              schema, key=("k",))
    assert latest_version(table) == v0
    assert acid_read(spark, table).count() == 1

    # a clean landing + fresh checkpoint proceeds
    land2 = str(tmp_path / "land2")
    spark.createDataFrame([(2, 2.0)], schema) \
        .coalesce(1).write.mode("append").parquet(land2)
    streaming_acid_upsert(spark, land2, table, str(tmp_path / "ck2"),
                          schema, key=("k",))
    assert acid_read(spark, table).count() == 2


def test_watermark_drop_inequality_pin(spark, tmp_path):
    """Pins the EXACT late-row rule q_stream_watermark_state's oracle
    replays: after a batch whose max event time is T, the persisted
    watermark is T - delay, and a later row is dropped iff its window
    END <= watermark (end == watermark DROPS — state already evicted);
    a window strictly above stays updatable, and within-batch disorder
    never drops (first batch runs at watermark 0)."""
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.acid import acid_read
    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_windowed_counts,
    )

    land, tbl, ck = (str(tmp_path / d) for d in ("land", "t", "ck"))
    schema = "ts timestamp, event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(
            rows, "ts string, event_type string, value double"
        ).select(F.col("ts").cast("timestamp"), "event_type", "value")

    # batch 1: out-of-order WITHIN the batch (wm still 0 -> all kept);
    # max event time lands exactly on Jan-20 00:00 -> wm = Jan-18 00:00
    b1 = mk([("2024-01-20 00:00:00", "a", 2.0),
             ("2024-01-10 12:00:00", "a", 1.0)])
    b1.coalesce(1).write.mode("append").parquet(land)
    streaming_windowed_counts(spark, land, tbl, ck, schema)
    # batch 2 probes each side of the boundary
    b2 = mk([("2024-01-16 06:00:00", "a", 4.0),   # end Jan-17 <  wm: drop
             ("2024-01-17 06:00:00", "a", 8.0),   # end Jan-18 == wm: drop
             ("2024-01-18 06:00:00", "a", 16.0),  # end Jan-19 >  wm: keep
             ("2024-01-10 18:00:00", "a", 32.0)]) # evicted window: drop
    b2.coalesce(1).write.mode("append").parquet(land)
    streaming_windowed_counts(spark, land, tbl, ck, schema)

    got = {
        str(r.win_start): (r.n_rows, r.sum_cents)
        for r in acid_read(spark, tbl).collect()
    }
    assert got == {
        "2024-01-10 00:00:00": (1, 100),   # late update dropped
        "2024-01-18 00:00:00": (1, 1600),  # in-horizon late row landed
        "2024-01-20 00:00:00": (1, 200),
    }
