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
