"""Stateful streaming variants of the ML time-series operators
(SURVEY.md O31): per-key model state across micro-batches via
``applyInPandasWithState``.

State per key = the AR(1) kernel's running sums (`AR1State`: n, Σy, Σy²,
Σy·y_lag, y₀, y_last, the last fit) plus the last timestamp — ten
scalars, O(1) per key whatever the history length.  The reference frame
is UNBOUNDED PRECEDING; carrying the sums keeps all of it, and
`expanding_ar1` continues them in the same order one pass over the whole
history would, so for event-time-ordered input the streaming output
equals the batch operators' exactly for any micro-batch split.

Ordering: each micro-batch is scored in event-time order after the
key's earlier points.  Rows BELOW the watermark are dropped (the
standard late-data contract; the sums cannot take a point out of event
order).  In-watermark cross-batch disorder is scored in arrival order
of the batches (micro-batch approximation; the batch operator is the
semantics reference).
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.timeseries import (
    CONFIDENCE_PERCENTAGE,
    HORIZON,
    MIN_TRAINING_SIZE,
    AR1State,
    _zcrit,
    anomaly_report,
    forecast_steps,
)

#: per-key state of the two AR(1) scorers: an AR1State, then the key's
#: last timestamp (µs)
_AR1_STATE_SCHEMA = T.StructType(
    [
        T.StructField(f, T.LongType() if f == "n" else T.DoubleType())
        for f in AR1State._fields
    ]
    + [T.StructField("ts_us", T.LongType())]
)


def _load_ar1_state(state: GroupState) -> tuple[AR1State | None, int | None]:
    if state.exists:
        *sums, ts_us = state.get
        return AR1State(*sums), ts_us
    return None, None


def _screen_batch(pdfs, state, ts_col, value_col):
    """The shared late-data contract for the AR(1) scorers: rows below the
    watermark are dropped, not scored — the running sums cannot take a
    point out of event order.  Watermark-free streams (valid for
    NoTimeout operators) have no watermark to read: PySpark raises
    PySparkRuntimeError from a local-field check (no JVM call), which
    here means "keep all".  Only that error is caught — anything else
    should surface.  Returns the (ts, value)-sorted surviving batch, or
    None when nothing survives."""
    import pandas as pd

    batch = pd.concat(list(pdfs), ignore_index=True)
    try:
        wm_ms = state.getCurrentWatermarkMs()
    except PySparkRuntimeError:
        wm_ms = 0
    if wm_ms > 0:
        batch = batch[(batch[ts_col].astype("int64") // 1_000_000) >= wm_ms]
    if batch.empty:
        return None
    return batch.sort_values([ts_col, value_col], kind="mergesort")


def _ar1_operator(df: DataFrame, key_col, ts_col, value_col, out_schema, score) -> DataFrame:
    """The one ``applyInPandasWithState`` body of the two AR(1) scorers.
    Per key and micro-batch: load the carried state, keep the batch rows
    `_screen_batch` lets through, score them with ``score(k, batch, y,
    prev, last_ts_us) -> (output pdf, end AR1State)``, and store the end
    state with the batch's last timestamp.  Append mode, no timeout: a
    key's state lives as long as the query."""

    def apply(key: Any, pdfs: Iterator, state: GroupState) -> Iterator:
        (k,) = key
        prev, last_ts_us = _load_ar1_state(state)
        batch = _screen_batch(pdfs, state, ts_col, value_col)
        if batch is None:
            return
        y = batch[value_col].to_numpy(dtype=np.float64)
        out, end = score(k, batch, y, prev, last_ts_us)
        state.update((*end, int(batch[ts_col].astype("int64").iloc[-1] // 1000)))  # ns → µs
        yield out

    return df.groupBy(key_col).applyInPandasWithState(
        apply,
        outputStructType=out_schema,
        stateStructType=_AR1_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_detect_anomalies(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    min_training_size: int = MIN_TRAINING_SIZE,
    confidence_percentage: float = CONFIDENCE_PERCENTAGE,
) -> DataFrame:
    """Streaming ML_DETECT_ANOMALIES: emits one row per input row with
    flat report fields (is_anomaly, expected_value, lower_bound,
    upper_bound).  Requires a watermark on ``ts_col`` upstream."""
    z = _zcrit(confidence_percentage)

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("event_timestamp", T.TimestampType()),
            T.StructField("observed_value", T.DoubleType()),
            T.StructField("is_anomaly", T.BooleanType()),
            T.StructField("expected_value", T.DoubleType()),
            T.StructField("lower_bound", T.DoubleType()),
            T.StructField("upper_bound", T.DoubleType()),
        ]
    )

    def score(k, batch, y, prev, _last_ts_us):
        import pandas as pd

        (is_anom, expected, lower, upper), end = anomaly_report(
            y, z, min_training_size, prev
        )
        return pd.DataFrame(
            {
                "key": k,
                "event_timestamp": batch[ts_col].values,
                "observed_value": y,
                "is_anomaly": is_anom,
                "expected_value": expected,
                "lower_bound": lower,
                "upper_bound": upper,
            }
        ), end

    return _ar1_operator(df, key_col, ts_col, value_col, out_schema, score)


def streaming_forecast(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    horizon: int = HORIZON,
    confidence_percentage: float = CONFIDENCE_PERCENTAGE,
    min_training_size: int = 2,
) -> DataFrame:
    """Streaming ML_FORECAST: per input row, forecast the next `horizon`
    steps from the fit on the key's history up to that row (flat output:
    one row per (input row, horizon step)).  Forecast timestamps step by
    the key's last inter-arrival gap as of the micro-batch."""
    z = _zcrit(confidence_percentage)
    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("event_timestamp", T.TimestampType()),
            T.StructField("current_value", T.DoubleType()),
            T.StructField("forecast_timestamp", T.TimestampType()),
            T.StructField("forecast_value", T.DoubleType()),
            T.StructField("lower_bound", T.DoubleType()),
            T.StructField("upper_bound", T.DoubleType()),
            T.StructField("rmse", T.DoubleType()),
            T.StructField("aic", T.DoubleType()),
        ]
    )

    def score(k, batch, y, prev, last_ts_us):
        import pandas as pd

        ts_us = (batch[ts_col].astype("int64") // 1000).tolist()  # ns → µs
        known = ([last_ts_us] if last_ts_us is not None else []) + ts_us[-2:]
        step_us = known[-1] - known[-2] if len(known) >= 2 else 1_000_000
        if step_us <= 0:
            step_us = 1_000_000
        steps, end = forecast_steps(y, z, horizon, min_training_size, prev)
        rows = [
            (
                k,
                pd.Timestamp(t * 1000),
                float(v),
                pd.Timestamp((t + h * step_us) * 1000),
                f,
                lo,
                hi,
                rm,
                ai,
            )
            for t, v, per_point in zip(ts_us, y, steps)
            for h, f, lo, hi, rm, ai in per_point
        ]
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields]), end

    return _ar1_operator(df, key_col, ts_col, value_col, out_schema, score)


def streaming_rate_limit_first_n(
    df: DataFrame,
    n_keep: int = 2,
    window_us: int = 86_400_000_000,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Watermark-FINALIZED per-key rate limiting: emit the first
    ``n_keep`` events per (key, window) by EVENT time, not arrival time.

    Arrival order is not event-time order, so an emit-on-sight limiter
    is nondeterministic under replay.  This operator buffers the current
    best-n (ts, event_id) per window in state and emits ONLY when the
    watermark closes the window, so the emitted set is the deterministic
    batch answer (events_rate_limit_per_key) for every closed window,
    exactly once, regardless of arrival order.

    Grouping is by KEY ONLY, with all of the key's live windows held in
    one state row and one timer armed at the EARLIEST open window end —
    the per-(key, window) grouping this replaced made Spark invoke the
    Python function once per (key x window) group (45k groups at sf0.1:
    ~35 s of pandas per-call overhead); per-key grouping emits every
    closed window of a key in one frame (~30x fewer Python calls, same
    plan, same results).  State is O(n_keep x live windows per key),
    removed as windows close.

    Requires ``withWatermark(ts_col, ...)`` upstream (EventTimeTimeout).
    """
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key_col, T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("window_start_us", T.LongType()),
            T.StructField("seq_in_window", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("window_start_us", T.ArrayType(T.LongType())),
            T.StructField("ts_us", T.ArrayType(T.LongType())),
            T.StructField("event_id", T.ArrayType(T.LongType())),
            T.StructField("event_type", T.ArrayType(T.StringType())),
        ]
    )

    def limiter(key: Any, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        k = int(key[0])
        wm_ms = state.getCurrentWatermarkMs()
        windows: dict = {}
        if state.exists:
            ws, ts_us, eid, etype = state.get
            for w, t, i, e in zip(ws, ts_us, eid, etype):
                windows.setdefault(w, []).append((t, i, e))
        if not state.hasTimedOut:
            for pdf in pdfs:
                for t, i, e in zip(
                    (pdf[ts_col].astype("int64") // 1000).tolist(),
                    pdf["event_id"].astype("int64").tolist(),
                    pdf["event_type"].tolist(),
                ):
                    w = (t // window_us) * window_us
                    # Late-data contract (same as Spark's built-in windowed
                    # aggregation): any row that reaches this function
                    # passed Spark's late-event filter (which lags the
                    # eviction watermark by one batch), so its window is
                    # either still open or being finalized in THIS
                    # invocation — it joins the window and counts toward
                    # the top-n, exactly as the batch operator would.  A
                    # row for a window finalized in an EARLIER invocation
                    # cannot get here: its ts is below that invocation's
                    # eviction watermark, which is this batch's late-event
                    # filter — Spark drops it before the operator, so
                    # duplicate (key, window) emissions are impossible.
                    windows.setdefault(w, []).append((t, i, e))

        out_rows = []
        open_ends = []
        flat = ([], [], [], [])
        for w in sorted(windows):
            best = sorted(windows[w])[:n_keep]
            if (w + window_us) // 1000 < wm_ms:
                for seq, (t, i, e) in enumerate(best, start=1):
                    out_rows.append((i, e, t, w, seq))
            else:
                open_ends.append((w + window_us) // 1000)
                for t, i, e in best:
                    flat[0].append(w)
                    flat[1].append(t)
                    flat[2].append(i)
                    flat[3].append(e)

        if flat[0]:
            state.update(flat)
            state.setTimeoutTimestamp(max(min(open_ends), wm_ms) + 1)
        elif state.exists:
            state.remove()

        if out_rows:
            yield pd.DataFrame(
                {
                    "event_id": pd.Series([r[0] for r in out_rows], dtype="int64"),
                    key_col: pd.Series([k] * len(out_rows), dtype="int64"),
                    "event_type": pd.Series([r[1] for r in out_rows], dtype="object"),
                    "ts_us": pd.Series([r[2] for r in out_rows], dtype="int64"),
                    "window_start_us": pd.Series(
                        [r[3] for r in out_rows], dtype="int64"
                    ),
                    "seq_in_window": pd.Series([r[4] for r in out_rows], dtype="int32"),
                }
            )

    return df.groupBy(key_col).applyInPandasWithState(
        limiter,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_cep_click_purchase(
    df: DataFrame,
    pattern_window_us: int = 1_800_000_000,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Watermark-FINALIZED sequential pattern detection on a stream —
    the Flink-CEP pattern (click FOLLOWED BY purchase within 30 min
    with no error between, reference semantics of the batch
    ``cep_click_then_purchase``) evaluated by EVENT time under
    out-of-order arrival.

    An emit-on-sight matcher is wrong under reordering: a late click or
    error with a smaller event time can create or invalidate a match
    after the purchase was already seen.  This operator buffers each
    key's events that the watermark has not yet passed, and on every
    event-time timer fire processes the prefix with
    ``t_ms < watermark`` in (t, event_id) order against O(1) carried
    state (last click / last error time), emitting each match exactly
    once.  That equals the batch answer restricted to finalized
    purchases, independent of arrival order.

    State per key = the out-of-order buffer (bounded by watermark delay
    x event rate — the same bound Flink CEP's partial-match buffer has)
    plus two carried timestamps.  Carries expire with the pattern
    window (a click older than 30 min before the watermark can never
    match a future purchase), so idle keys are removed entirely.
    """
    out_schema = cep_out_schema(key_col)

    def matcher(key: Any, pdfs: Iterator, state: GroupState) -> Iterator:
        k = int(key[0])
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            t_us, eid, etype, last_click, last_err = state.get
            buf = list(zip(t_us, eid, etype))
        else:
            buf, last_click, last_err = [], -1, -1

        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend(
                    zip(
                        (pdf[ts_col].astype("int64") // 1000).tolist(),
                        pdf["event_id"].astype("int64").tolist(),
                        pdf["event_type"].tolist(),
                    )
                )

        matches, remainder, last_click, last_err, timer_ms = cep_finalize(
            buf, last_click, last_err, wm_ms, pattern_window_us
        )

        if timer_ms is None:
            if state.exists:
                state.remove()
        else:
            state.update(
                (
                    [r[0] for r in remainder],
                    [r[1] for r in remainder],
                    [r[2] for r in remainder],
                    last_click,
                    last_err,
                )
            )
            state.setTimeoutTimestamp(timer_ms)
        yield cep_emit(matches, k, key_col)

    return df.groupBy(key_col).applyInPandasWithState(
        matcher,
        outputStructType=out_schema,
        stateStructType=_CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


#: Shared by the applyInPandasWithState matcher above and the
#: transformWithStateInPandas twin (streaming/tws.py) — single source
#: for the CEP state layout and match/carry semantics.
_CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t_us", T.ArrayType(T.LongType())),
        T.StructField("event_id", T.ArrayType(T.LongType())),
        T.StructField("event_type", T.ArrayType(T.StringType())),
        T.StructField("last_click", T.LongType()),
        T.StructField("last_err", T.LongType()),
    ]
)


def cep_out_schema(key_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("purchase_id", T.LongType()),
            T.StructField("purchase_t", T.LongType()),
            T.StructField("last_click", T.LongType()),
            T.StructField("gap_us", T.LongType()),
        ]
    )


def cep_emit(rows: list, k: int, key_col: str):
    import pandas as pd

    return pd.DataFrame(
        {
            key_col: pd.Series([k] * len(rows), dtype="int64"),
            "purchase_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "purchase_t": pd.Series([r[1] for r in rows], dtype="int64"),
            "last_click": pd.Series([r[2] for r in rows], dtype="int64"),
            "gap_us": pd.Series([r[3] for r in rows], dtype="int64"),
        }
    )


def cep_finalize(
    buf: list,
    last_click: int,
    last_err: int,
    wm_ms: int,
    pattern_window_us: int,
) -> tuple:
    """The CEP kernel, pure: finalize the (t, event_id, event_type)
    buffer prefix the watermark has passed, in event-time order, against
    the carried (last_click, last_err) state.

    Returns ``(matches, remainder, last_click, last_err, timer_ms)``;
    ``timer_ms is None`` means the key's state is dead and should be
    removed, otherwise re-arm an event-time timer at ``timer_ms``
    (earliest unfinalized event + 1 ms, or the carried click's
    pattern-window TTL when only the carry survives)."""
    buf.sort()
    matches: list = []
    remainder: list = []
    for t, i, e in buf:
        if t // 1000 >= wm_ms:
            remainder.append((t, i, e))
            continue
        if (
            e == "purchase"
            and last_click >= 0
            and last_click >= t - pattern_window_us
            and (last_err < 0 or last_err < last_click)
        ):
            matches.append((i, t, last_click, t - last_click))
        if e == "click":
            last_click = t
        elif e == "error":
            last_err = t

    # carry TTL: a click this old can never satisfy the pattern window
    # for any not-yet-finalized purchase (t_ms >= wm); err only gates
    # the click, so it expires with it
    if last_click >= 0 and last_click // 1000 < wm_ms - pattern_window_us // 1000:
        last_click, last_err = -1, -1
    if last_click < 0:
        # an error only gates a click that PRECEDES it; with no carried
        # click it can never affect a future match — dead state
        last_err = -1

    if remainder:
        # fire as soon as the watermark passes the earliest unfinalized
        # event (strictly > current watermark by the t >= wm invariant)
        timer_ms = remainder[0][0] // 1000 + 1
    elif last_click >= 0:
        # only a carried click survives: arm its TTL so a permanently
        # idle key is still cleaned up when the watermark passes
        # click + pattern window
        timer_ms = last_click // 1000 + pattern_window_us // 1000 + 1
    else:
        timer_ms = None
    return matches, remainder, last_click, last_err, timer_ms


def streaming_gap_detector(
    df: DataFrame,
    min_gap_us: int = 300_000_000,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermark-finalized missing-data detection: per key, every silent
    period longer than ``min_gap_us`` between CONSECUTIVE events by
    event time — the streaming form of the batch downtime report and
    the health-monitor's own failure mode (a patient that stops
    sending vitals raises no event; only a timer can notice).

    Same finalization discipline as the CEP matcher: events buffer per
    key until the watermark passes them, then are processed in event
    -time order against an O(1) carried last-seen timestamp; a gap row
    (gap_start, gap_end, gap_us) is emitted exactly once when its
    CLOSING event finalizes.  Deterministic under any arrival order;
    state = out-of-order buffer (watermark-delay bound) + one carry.
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("gap_start_us", T.LongType()),
            T.StructField("gap_end_us", T.LongType()),
            T.StructField("gap_us", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t_us", T.ArrayType(T.LongType())),
            T.StructField("last_seen", T.LongType()),
        ]
    )

    def detector(key: Any, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        k = str(key[0])
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            t_us, last_seen = state.get
            buf = list(t_us)
        else:
            buf, last_seen = [], -1

        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend((pdf[ts_col].astype("int64") // 1000).tolist())

        buf.sort()
        gaps, remainder = [], []
        for t in buf:
            if t // 1000 >= wm_ms:
                remainder.append(t)
                continue
            if last_seen >= 0 and t - last_seen > min_gap_us:
                gaps.append((last_seen, t, t - last_seen))
            last_seen = t
        if remainder or last_seen >= 0:
            state.update((remainder, last_seen))
            if remainder:
                state.setTimeoutTimestamp(remainder[0] // 1000 + 1)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            {
                key_col: pd.Series([k] * len(gaps), dtype="object"),
                "gap_start_us": pd.Series([g[0] for g in gaps], dtype="int64"),
                "gap_end_us": pd.Series([g[1] for g in gaps], dtype="int64"),
                "gap_us": pd.Series([g[2] for g in gaps], dtype="int64"),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        detector,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_window_funnel(
    df: DataFrame,
    window_us: int = 86_400_000_000,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Watermark-finalized 3-step window funnel (ClickHouse
    windowFunnel semantics, streaming form of funnel_window_3step):
    for each signup, the longest prefix of signup -> click -> purchase
    completed IN (ts, event_id) ORDER within ``window_us`` of the
    signup — a signup is evaluated exactly once, when the watermark
    passes its full pattern window, against the buffered events of
    that window.

    State per key = the event buffer, bounded by pattern window +
    watermark delay (events older than any unfinalized signup's window
    are pruned) — the Flink-CEP `within()` bound.  Arrival order
    cannot affect results: evaluation happens on the event-time-sorted
    buffer only after the window closes.
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("signup_id", T.LongType()),
            T.StructField("signup_t", T.LongType()),
            T.StructField("steps", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t_us", T.ArrayType(T.LongType())),
            T.StructField("event_id", T.ArrayType(T.LongType())),
            T.StructField("event_type", T.ArrayType(T.StringType())),
        ]
    )

    def funnel(key: Any, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        k = int(key[0])
        wm_ms = state.getCurrentWatermarkMs()
        buf = []
        if state.exists:
            t_us, eid, etype = state.get
            buf = list(zip(t_us, eid, etype))
        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend(
                    zip(
                        (pdf[ts_col].astype("int64") // 1000).tolist(),
                        pdf["event_id"].astype("int64").tolist(),
                        pdf["event_type"].tolist(),
                    )
                )
        buf.sort()

        out = []
        remaining = []
        open_windows = []
        for idx, (t, i, e) in enumerate(buf):
            if e != "signup":
                continue
            if (t + window_us) // 1000 < wm_ms:
                # window closed: evaluate against the sorted buffer.  buf is
                # t-ordered, so both scans BREAK once past t + window_us —
                # without that bound a backlog drain on a hot key is
                # O(signups x buffered history) instead of O(signups x window)
                steps = 1
                first_click = None
                for t2, i2, e2 in buf[idx + 1:]:
                    if t2 - t > window_us:
                        break
                    if e2 == "click":
                        first_click = (t2, i2)
                        steps = 2
                        break
                if first_click is not None:
                    fc_key = first_click
                    for t3, i3, e3 in buf[idx + 1:]:
                        if t3 - t > window_us:
                            break
                        if (t3, i3) <= fc_key:
                            continue
                        if e3 == "purchase":
                            steps = 3
                            break
                out.append((i, t, steps))
            else:
                open_windows.append(t)

        # keep events any open signup window may still need
        if open_windows:
            keep_from = min(open_windows)
        else:
            # no open signup: the funnel window is FORWARD-looking from a
            # signup, and any future-admitted signup has t >= this batch's
            # eviction watermark (which becomes the next batch's late-event
            # filter), so its window covers only events at t >= wm — events
            # below wm are dead.  (A `wm - window_us` bound would retain a
            # full extra pattern-window of click/purchase state per key and
            # keep re-arming its cleanup timer, for zero effect on results.)
            keep_from = wm_ms * 1000
        finalized = {(r[1], r[0]) for r in out}  # (t, id) of emitted signups
        for t, i, e in buf:
            if (t, i) in finalized and e == "signup":
                continue
            if t >= keep_from or t // 1000 >= wm_ms:
                remaining.append((t, i, e))

        if remaining:
            state.update(
                (
                    [r[0] for r in remaining],
                    [r[1] for r in remaining],
                    [r[2] for r in remaining],
                )
            )
            if open_windows:
                state.setTimeoutTimestamp((min(open_windows) + window_us) // 1000 + 1)
            else:
                # no open signup window: the kept events only matter to a
                # signup arriving within window_us of them — arm a cleanup
                # timer so a key whose stream simply ends is still evicted
                # once the watermark passes last-event + window (without
                # it, permanently idle keys kept state forever)
                state.setTimeoutTimestamp(
                    (max(r[0] for r in remaining) + window_us) // 1000 + 1
                )
        elif state.exists:
            state.remove()

        yield pd.DataFrame(
            {
                key_col: pd.Series([k] * len(out), dtype="int64"),
                "signup_id": pd.Series([r[0] for r in out], dtype="int64"),
                "signup_t": pd.Series([r[1] for r in out], dtype="int64"),
                "steps": pd.Series([r[2] for r in out], dtype="int64"),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        funnel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_semdedup_ingest(
    df: DataFrame,
    dim: int = 64,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Online SemDeDup: per-cell semantic dedup decisions on an
    embedding INGEST stream — the streaming counterpart of the batch
    ``semdedup_cluster_prune`` registry query.

    Input must already carry the coarse-quantizer cell
    (``hyperplane_lsh_bucket`` with ``carry_cols=(vec_col,)`` — a pure
    map, streaming-safe).  State per cell = ALL members seen so far
    (ids + flattened vectors): the rule is the batch one — a vector is
    dropped iff ANY lower-id cell-mate has cosine ≥ threshold —
    so keeping only kept exemplars would under-drop (a dropped member
    can still prove a later vector duplicate).  Emits one decision row
    per input vector, exactly once (append).

    Determinism contract: with in-order ingest (monotone ``id_col``,
    the natural ingest key) the emitted decisions equal the batch rule
    for every prefix of the stream; a lower-id vector arriving AFTER a
    higher-id one was decided cannot retro-drop it (decisions are
    immutable appends) but does join the state for future comparisons.

    100 TB: state is the online dedup index (dim doubles/member).  A
    real deployment shards it by cell (this operator's grouping key =
    the state-store partition key) and stores int8/PQ codes instead of
    raw doubles (operators. similarity has both quantizers); the
    decision math is unchanged.
    """
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.LongType()),
            T.StructField("is_dropped", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("flat", T.ArrayType(T.DoubleType())),
        ]
    )

    def dedup(key: Any, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        cell = int(key[0])
        if state.exists:
            ids, flat = state.get
            ids = list(ids)
            flat = list(flat)
        else:
            ids, flat = [], []

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(id_col, kind="mergesort")
        new_ids = batch[id_col].astype("int64").tolist()
        new_vecs = np.array(
            [np.asarray(v, dtype=np.float64) for v in batch[vec_col]]
        ).reshape(len(new_ids), dim)

        members = (
            np.array(flat, dtype=np.float64).reshape(len(ids), dim)
            if ids
            else np.empty((0, dim))
        )
        member_ids = np.array(ids, dtype=np.int64)
        member_norms = np.linalg.norm(members, axis=1) if ids else np.empty(0)
        new_norms = np.linalg.norm(new_vecs, axis=1)
        new_ids_arr = np.array(new_ids, dtype=np.int64)

        # One matmul against the pre-batch state (O((M+B)·B·dim) flops, no
        # matrix rebuilds), then an in-batch prefix check on views: the
        # batch is id-sorted, so earlier rows are exactly the lower-id
        # in-batch mates.
        cos_state = (
            new_vecs @ members.T / (new_norms[:, None] * member_norms[None, :])
            if len(ids)
            else np.empty((len(new_ids), 0))
        )
        decisions = []
        for i, vid in enumerate(new_ids):
            dropped = 0
            if cos_state.shape[1]:
                lower = member_ids < vid
                if lower.any() and (cos_state[i, lower] >= threshold).any():
                    dropped = 1
            if not dropped and i:
                pref = new_ids_arr[:i] < vid
                if pref.any():
                    cos_pref = (new_vecs[:i][pref] @ new_vecs[i]) / (
                        new_norms[:i][pref] * new_norms[i]
                    )
                    if (cos_pref >= threshold).any():
                        dropped = 1
            decisions.append(dropped)

        # reuse the flat lists already in hand: rebuilding `flat` from the
        # members ndarray (ravel().tolist()) re-converts M·dim doubles to
        # Python objects every batch for an identical result — on large
        # cells that reconversion, not the matmul, dominates
        state.update((ids + new_ids, flat + new_vecs.ravel().tolist()))
        yield pd.DataFrame(
            {
                "vec_id": pd.Series(new_ids, dtype="int64"),
                "cell": pd.Series([cell] * len(new_ids), dtype="int64"),
                "is_dropped": pd.Series(decisions, dtype="int64"),
            }
        )

    return df.groupBy(cell_col).applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
