"""SQL-surface ML table functions.

The reference consumes its ML operators from SQL text
(`ML_DETECT_ANOMALIES(...) OVER (PARTITION BY ... ORDER BY ...)`,
flink_statements.tf:191-202,305-316).  Spark has no OVER-window UDAF
extension point in Python, but Python UDTFs with
``TABLE(t) PARTITION BY k ORDER BY ts`` arguments give the same
semantics: a fresh instance per key, rows arriving in event-time order.
These UDTFs expose the engine's ML functions to pure SQL:

    SELECT * FROM ml_detect_anomalies(TABLE(windowed_vitals)
                                      PARTITION BY patient_id
                                      ORDER BY event_timestamp)

Both score through the one AR(1) kernel and its row builders
(functions/timeseries.py), so their outputs equal the DataFrame
operators' on the same rows (pinned by tests/test_sql_pipeline.py).
Each buffers its partition and scores it in ``terminate()``: the
forecast timestamps need the key's final inter-arrival gap, and scoring
the whole key in one vectorized pass costs less than row by row.
Column names are fixed to the pipeline schema (patient_id,
event_timestamp, observed_value); the DataFrame operators remain the
configurable fast path.
"""

from __future__ import annotations

import datetime

from pyspark.sql.functions import udtf

from .timeseries import (
    CONFIDENCE_PERCENTAGE,
    HORIZON,
    MIN_TRAINING_SIZE,
    _zcrit,
    anomaly_report,
    forecast_steps,
)


class _KeyBuffer:
    """Rows of one PARTITION BY key, in the ORDER BY order they arrive,
    plus the SQL arguments (constant per call; SQL literals arrive as
    Decimal)."""

    def __init__(self):
        self.pid, self.ts, self.y = None, [], []
        self.args = None

    def add(self, row, *args) -> None:
        self.pid = row["patient_id"]
        self.ts.append(row["event_timestamp"])
        self.y.append(float(row["observed_value"]))
        self.args = args


@udtf(
    returnType=(
        "patient_id int, event_timestamp timestamp, observed_value double, "
        "is_anomaly boolean, expected_value double, lower_bound double, upper_bound double"
    )
)
class MLDetectAnomalies:
    """ML_DETECT_ANOMALIES(TABLE(t) PARTITION BY patient_id ORDER BY
    event_timestamp [, min_training_size, confidence_percentage])."""

    def __init__(self):
        self.key = _KeyBuffer()

    def eval(
        self,
        row,
        min_training_size: int = MIN_TRAINING_SIZE,
        confidence_percentage: float = CONFIDENCE_PERCENTAGE,
    ):
        self.key.add(row, min_training_size, confidence_percentage)

    def terminate(self):
        if not self.key.y:
            return
        min_training_size, confidence_percentage = self.key.args
        report, _ = anomaly_report(
            self.key.y, _zcrit(float(confidence_percentage)), int(min_training_size)
        )
        for ts, y, is_anom, expected, lower, upper in zip(self.key.ts, self.key.y, *report):
            yield (self.key.pid, ts, y, bool(is_anom), expected, lower, upper)


@udtf(
    returnType=(
        "patient_id int, event_timestamp timestamp, current_value double, "
        "forecast_timestamp timestamp, forecast_value double, "
        "lower_bound double, upper_bound double, rmse double, aic double"
    )
)
class MLForecast:
    """ML_FORECAST(TABLE(t) PARTITION BY patient_id ORDER BY
    event_timestamp [, horizon, confidence_percentage, min_training_size]).

    Like the batch operator, every row's forecast_timestamp steps by the
    key's FINAL inter-arrival gap (≤0/missing → 1 s)."""

    def __init__(self):
        self.key = _KeyBuffer()

    def eval(
        self,
        row,
        horizon: int = HORIZON,
        confidence_percentage: float = CONFIDENCE_PERCENTAGE,
        min_training_size: int = 2,
    ):
        self.key.add(row, horizon, confidence_percentage, min_training_size)

    def terminate(self):
        if not self.key.y:
            return
        horizon, confidence_percentage, min_training_size = self.key.args
        ts = self.key.ts
        step = ts[-1] - ts[-2] if len(ts) >= 2 else None
        if step is None or step <= datetime.timedelta(0):
            step = datetime.timedelta(seconds=1)
        steps, _ = forecast_steps(
            self.key.y,
            _zcrit(float(confidence_percentage)),
            int(horizon),
            int(min_training_size),
        )
        for t, y, per_point in zip(ts, self.key.y, steps):
            for h, v, lo, hi, rmse, aic in per_point:
                yield (self.key.pid, t, y, t + h * step, v, lo, hi, rmse, aic)


def register_sql_ml_functions(spark) -> None:
    """Register the SQL-surface ML table functions on the session."""
    spark.udtf.register("ml_detect_anomalies", MLDetectAnomalies)
    spark.udtf.register("ml_forecast", MLForecast)
