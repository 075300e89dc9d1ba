"""Custom stateful streaming operator: incremental sessionization with
``applyInPandasWithState`` (SURVEY §7.4 streaming-state extension; the batch
equivalent is operators/sessionize.py).

State per user: the open session (start, last_ts, n_events). Each micro-batch
merges its events into the open session; a gap >= timeout closes the session
and EMITS it, then opens a new one. The tail session stays in state across
batches — the property a batch gaps-and-islands can't give you on an
unbounded stream with bounded memory.

Scale: state is O(active users) × a 3-field tuple; Spark shuffles each user
to a stable state partition, so throughput scales with executors and the
per-user work is a tiny pandas merge (Arrow-batched).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("session_start", T.TimestampType(), False),
    T.StructField("session_end", T.TimestampType(), False),
    T.StructField("n_events", T.LongType(), False),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType(), True),
    T.StructField("last_us", T.LongType(), True),
    T.StructField("n", T.LongType(), True),
])


def stateful_sessionize(
    stream_df: DataFrame,
    timeout_seconds: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Emit CLOSED sessions as they are sealed by later events. The open tail
    session per user remains in state (emit it by sending a sentinel late
    event or switching to ProcessingTimeTimeout in production)."""
    timeout_us = timeout_seconds * 1_000_000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user,) = key
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        closed = []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col]).sort_values()
            for t in ts:
                t_us = t.value // 1000
                if last_us is None:
                    start_us, last_us, n = t_us, t_us, 1
                elif t_us - last_us >= timeout_us:
                    closed.append((user, start_us, last_us, n))
                    start_us, last_us, n = t_us, t_us, 1
                else:
                    last_us = max(last_us, t_us)
                    n += 1
        state.update((start_us, last_us, n))
        if closed:
            yield pd.DataFrame({
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                "n_events": [c[3] for c in closed],
            })

    return (
        # only (user, ts) cross the Arrow boundary — the state fn reads
        # nothing else, and Spark cannot prune columns through the opaque
        # group function itself (guide §4.1)
        stream_df.select(user_col, ts_col)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


LEVELS_OUT_SCHEMA = T.StructType([
    T.StructField("session_date", T.DateType(), False),
    T.StructField("tz", T.StringType(), False),
    T.StructField("or_start", T.TimestampType(), True),
    T.StructField("or_end", T.TimestampType(), True),
    T.StructField("or_high", T.DoubleType(), True),
    T.StructField("or_low", T.DoubleType(), True),
    T.StructField("break_dir", T.StringType(), True),
    T.StructField("break_ts", T.TimestampType(), True),
    T.StructField("retest_ts", T.TimestampType(), True),
    T.StructField("retest_price", T.DoubleType(), True),
    T.StructField("symbol", T.StringType(), False),
])

_LEVELS_STATE_SCHEMA = T.StructType([
    T.StructField("day", T.StringType(), True),
    T.StructField("or_high", T.DoubleType(), True),
    T.StructField("or_low", T.DoubleType(), True),
    T.StructField("up_us", T.LongType(), True),
    T.StructField("dn_us", T.LongType(), True),
    T.StructField("rtu_us", T.LongType(), True),
    T.StructField("rtu_close", T.DoubleType(), True),
    T.StructField("rtd_us", T.LongType(), True),
    T.StructField("rtd_close", T.DoubleType(), True),
])


def streaming_or_levels(
    stream_df: DataFrame,
    or_window: str = "00:00-01:00",
    tz: str = "UTC",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    emit_timeout_delay: str | None = None,
) -> DataFrame:
    """Streaming OR-levels (D1 as an unbounded-stream operator): per symbol,
    accumulate the opening-range min/max during the local OR window, then
    track the FIRST up/dn break and the FIRST up/dn retest candidates
    incrementally; when a bar of a LATER session day arrives, the completed
    day is emitted with exactly build_or_levels' row shape — including the
    reference's retest-before-break quirk, which streams naturally because
    both retest candidates are tracked independently of the break.

    State is one 9-field tuple per symbol (O(symbols), bounded). Assumes
    bars arrive session-ordered per symbol (true for candle feeds; enforce
    upstream with a watermarked sort if not).

    Tail flush: by default the open session stays in state until the next
    session's first bar arrives. With ``emit_timeout_delay`` (a watermark
    delay string, e.g. ``"0 seconds"`` or ``"5 minutes"``), the stream gets
    ``withWatermark(ts, delay)`` and an EVENT-TIME TIMEOUT set to the open
    session's local midnight: once the watermark (driven by any symbol's
    bars) passes end-of-day + delay, the open day is emitted and its state
    removed — a quiet symbol's last session no longer waits forever for
    that symbol's own next bar."""
    start_hm, end_hm = or_window.split("-")
    timeout_mode = emit_timeout_delay is not None

    def _finalize(sym, day, s):
        or_high, or_low = s[1], s[2]
        if or_high is None:
            return None
        up_us, dn_us = s[3], s[4]
        up_first = up_us is not None and (dn_us is None or up_us <= dn_us)
        dn_first = dn_us is not None and not up_first
        if up_first:
            bdir, b_us, rt_us, rt_close = "UP", up_us, s[5], s[6]
        elif dn_first:
            bdir, b_us, rt_us, rt_close = "DOWN", dn_us, s[7], s[8]
        else:
            bdir, b_us, rt_us, rt_close = "NONE", None, None, None
        # DST-safe localization: a window boundary falling in a
        # spring-forward gap shifts forward, one in a fall-back overlap
        # takes the first (DST) occurrence — without these, pandas raises
        # NonExistentTimeError/AmbiguousTimeError and kills the query.
        # (Only the emitted or_start/or_end metadata depends on this; the
        # break/retest logic works on local wall-clock HH:MM strings.)
        def _loc(hm):
            return (
                pd.Timestamp(f"{day} {hm}")
                .tz_localize(tz, nonexistent="shift_forward", ambiguous=True)
                .tz_convert("UTC").tz_localize(None)
            )

        or_start = _loc(start_hm)
        or_end = _loc(end_hm)
        to_ts = lambda us: None if us is None else pd.Timestamp(us, unit="us")
        return (pd.Timestamp(day).date(), tz, or_start, or_end, or_high,
                or_low, bdir, to_ts(b_us), to_ts(rt_us), rt_close, sym)

    def _day_end_utc_ms(day: str) -> int:
        nxt = (
            (pd.Timestamp(day) + pd.Timedelta(days=1))
            .tz_localize(tz, nonexistent="shift_forward", ambiguous=True)
            .tz_convert("UTC")
        )
        return nxt.value // 1_000_000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (sym,) = key
        if timeout_mode and state.hasTimedOut:
            # watermark passed the open session's end-of-day: flush it
            s = list(state.get) if state.exists else None
            state.remove()
            if s is not None and s[0] is not None:
                row = _finalize(sym, s[0], s)
                if row is not None:
                    yield pd.DataFrame(
                        [row],
                        columns=[f.name for f in LEVELS_OUT_SCHEMA],
                    )
            return
        s = list(state.get) if state.exists else [None] * 9
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            local = (pd.to_datetime(pdf[ts_col]).dt.tz_localize("UTC")
                     .dt.tz_convert(tz))
            for t, lt, hi, lo, cl in zip(
                pd.to_datetime(pdf[ts_col]), local,
                pdf["high"], pdf["low"], pdf["close"],
            ):
                day = str(lt.date())
                hm = lt.strftime("%H:%M")
                if s[0] is not None and day < s[0]:
                    # Late out-of-order bar from an already-finalized
                    # session: rolling state back would emit the OPEN day's
                    # partial row and strand state on the stale day — drop
                    # it instead (ISO dates compare lexicographically).
                    continue
                if s[0] is not None and day > s[0]:
                    row = _finalize(sym, s[0], s)
                    if row is not None:
                        out.append(row)
                    s = [day] + [None] * 8
                elif s[0] is None:
                    s = [day] + [None] * 8
                if start_hm <= hm < end_hm:
                    s[1] = hi if s[1] is None else max(s[1], hi)
                    s[2] = lo if s[2] is None else min(s[2], lo)
                elif hm >= end_hm and s[1] is not None:
                    t_us = t.value // 1000
                    if s[3] is None and cl > s[1]:
                        s[3] = t_us
                    if s[4] is None and cl < s[2]:
                        s[4] = t_us
                    if s[5] is None and lo <= s[1]:
                        s[5], s[6] = t_us, cl
                    if s[7] is None and hi >= s[2]:
                        s[7], s[8] = t_us, cl
        state.update(tuple(s))
        if timeout_mode and s[0] is not None:
            # flush the open day once the watermark passes its local
            # midnight (timeout must stay ahead of the current watermark)
            state.setTimeoutTimestamp(
                max(_day_end_utc_ms(s[0]),
                    state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in LEVELS_OUT_SCHEMA])

    # only the columns the state fn reads cross the Arrow boundary
    # (guide §4.1); the watermark column survives the projection
    pruned = stream_df.select(symbol_col, ts_col, "high", "low", "close")
    src = (
        pruned.withWatermark(ts_col, emit_timeout_delay)
        if timeout_mode else pruned
    )
    return (
        src.groupBy(symbol_col)
        .applyInPandasWithState(
            fn,
            outputStructType=LEVELS_OUT_SCHEMA,
            stateStructType=_LEVELS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if timeout_mode else GroupStateTimeout.NoTimeout
            ),
        )
    )


FUNNEL_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("step", T.IntegerType(), False),
    T.StructField("event_type", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
])

_FUNNEL_STATE_SCHEMA = T.StructType([
    T.StructField("stage", T.IntegerType(), True),      # steps completed
    T.StructField("stage_us", T.LongType(), True),      # ts of last step
])


def stateful_funnel(
    stream_df: DataFrame,
    steps: tuple[str, ...] = ("signup", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming ordered-funnel tracking (the incremental analogue of the
    batch ``q_evt_funnel``): per user, advance through ``steps`` strictly
    in order — step i+1 counts only if its event's timestamp is AFTER the
    event that completed step i. Emits one row per stage advancement
    (user_id, step, event_type, ts) the moment it happens, so a dashboard
    can read conversion counts per step with a trailing aggregation.

    State per user is two scalars (stage reached, its timestamp) —
    O(active users), RocksDB-friendly. Events are sorted within each
    micro-batch; cross-batch late events older than the current stage
    timestamp are ignored (same at-the-watermark caveat as
    stateful_sessionize — front with a watermark-sorted buffer when the
    source can be badly out of order)."""
    step_idx = {s: i for i, s in enumerate(steps)}

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user,) = key
        if state.exists:
            stage, stage_us = state.get
        else:
            stage, stage_us = 0, None
        advanced = []
        rows = []
        for pdf in pdfs:
            sub = pdf[[ts_col, type_col]]
            rows.append(sub)
        if rows:
            allr = pd.concat(rows).sort_values(ts_col)
            for t, typ in zip(
                pd.to_datetime(allr[ts_col]), allr[type_col]
            ):
                if stage >= len(steps):
                    break
                if step_idx.get(typ) != stage:
                    continue
                t_us = t.value // 1000
                if stage > 0 and (stage_us is None or t_us <= stage_us):
                    continue  # must be strictly after the previous step
                stage += 1
                stage_us = t_us
                advanced.append((user, stage, typ, t_us))
        state.update((stage, stage_us))
        if advanced:
            yield pd.DataFrame({
                "user_id": [a[0] for a in advanced],
                "step": [a[1] for a in advanced],
                "event_type": [a[2] for a in advanced],
                "ts": [pd.Timestamp(a[3], unit="us") for a in advanced],
            })

    return (
        # only (user, ts, type) cross the Arrow boundary (guide §4.1)
        stream_df.select(user_col, ts_col, type_col)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RETENTION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("cohort_week", T.StringType(), False),
    T.StructField("week_offset", T.IntegerType(), False),
])

_RETENTION_STATE_SCHEMA = T.StructType([
    T.StructField("cohort_us", T.LongType(), True),
    T.StructField("seen_mask", T.LongType(), True),   # 64-week horizon
])


def stateful_retention(
    stream_df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming cohort-retention increments (incremental analogue of the
    batch ``q_evt_retention``): per user, remember the Monday-truncated
    week of first activity (the cohort) and emit ONE row per (user, week
    offset) the first time the user is active in that week — a trailing
    ``groupBy(cohort_week, week_offset).count()`` over the output then
    equals the batch retention table over the processed prefix.

    State per user is two longs: the cohort timestamp and a 64-week seen
    bitmap, so the horizon is 64 weeks (offsets past it are dropped —
    documented cap; widen to an array state for longer programs). Events
    earlier than the recorded cohort (late arrivals before the first-seen
    event) are clamped to offset 0."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user,) = key
        if state.exists:
            cohort_us, seen = state.get
        else:
            cohort_us, seen = None, 0
        out = []
        # concat ALL Arrow chunks before sorting (mirrors stateful_funnel):
        # sorting each chunk independently could record the cohort from a
        # later week than the batch's true minimum when a user's batch
        # spans chunks, permanently skewing cohort_week
        chunks = [pdf[[ts_col]] for pdf in pdfs]
        allr = (pd.concat(chunks) if chunks
                else pd.DataFrame({ts_col: []}))
        if len(allr):
            for t in pd.to_datetime(allr[ts_col]).sort_values():
                wk = (t - pd.Timedelta(days=int(t.dayofweek))).normalize()
                wk_us = wk.value // 1000
                if cohort_us is None:
                    cohort_us = wk_us
                offset = max(0, (wk_us - cohort_us) // (7 * 86400_000_000))
                if offset >= 64:
                    continue
                bit = 1 << int(offset)
                if not seen & bit:
                    seen |= bit
                    out.append((user, cohort_us, int(offset)))
        state.update((cohort_us, seen))
        if out:
            yield pd.DataFrame({
                "user_id": [o[0] for o in out],
                "cohort_week": [
                    pd.Timestamp(o[1], unit="us").strftime("%Y-%m-%d")
                    for o in out],
                "week_offset": [o[2] for o in out],
            })

    return (
        # only (user, ts) cross the Arrow boundary (guide §4.1)
        stream_df.select(user_col, ts_col)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=RETENTION_SCHEMA,
            stateStructType=_RETENTION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
