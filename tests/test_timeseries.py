"""Property tests for the ML time-series operators (SURVEY.md §5.2.3):
- constant series forecasts ≈ the constant
- lower_bound ≤ forecast_value ≤ upper_bound
- no anomalies during warm-up
- one output row per input row (anomalies); one forecast array per row
"""

import math
from datetime import datetime, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.functions.timeseries import (
    expanding_ar1,
    ml_detect_anomalies,
    ml_forecast,
)


def _series_df(spark, values, key=1, start=None, step_s=1.0):
    start = start or datetime(2026, 1, 1)
    rows = [
        (key, start + timedelta(seconds=i * step_s), float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "patient_id int, event_timestamp timestamp, observed_value double")


def test_expanding_ar1_matches_naive_ols():
    rng = np.random.default_rng(7)
    y = np.cumsum(rng.normal(0, 1, 50)) + 10
    fits, _ = expanding_ar1(y)
    for m in (5, 17, 50):
        x, z = y[: m - 1], y[1:m]
        b, a = np.polyfit(x, z, 1)
        assert fits["b"][m - 1] == pytest.approx(b, rel=1e-8)
        assert fits["a"][m - 1] == pytest.approx(a, rel=1e-8)
        sse = float(np.sum((z - (a + b * x)) ** 2))
        assert fits["rmse"][m - 1] == pytest.approx(math.sqrt(sse / (m - 1)), rel=1e-6, abs=1e-9)


def test_constant_series_forecasts_constant(spark):
    df = _series_df(spark, [72.0] * 40)
    out = ml_forecast(df, "observed_value", "event_timestamp", ["patient_id"]).collect()
    assert len(out) == 40
    last = max(out, key=lambda r: r.event_timestamp)
    f = last.forecast_values[0]
    assert f.forecast_value == pytest.approx(72.0, abs=1e-6)
    assert f.lower_bound <= f.forecast_value <= f.upper_bound
    assert f.rmse == pytest.approx(0.0, abs=1e-6)


def test_forecast_bounds_and_cardinality(spark):
    rng = np.random.default_rng(3)
    vals = 80 + np.cumsum(rng.normal(0, 1, 60))
    df = _series_df(spark, vals)
    rows = ml_forecast(df, "observed_value", "event_timestamp", ["patient_id"], horizon=3).collect()
    assert len(rows) == 60
    for r in rows:
        if r.forecast_values:
            assert len(r.forecast_values) == 3
            for f in r.forecast_values:
                assert f.lower_bound <= f.forecast_value <= f.upper_bound
            # intervals widen with horizon
            widths = [f.upper_bound - f.lower_bound for f in r.forecast_values]
            assert widths == sorted(widths)


def test_forecast_timestamp_advances(spark):
    df = _series_df(spark, range(10), step_s=2.0)
    rows = ml_forecast(df, "observed_value", "event_timestamp", ["patient_id"]).collect()
    by_ts = sorted(rows, key=lambda r: r.event_timestamp)
    last = by_ts[-1]
    assert last.forecast_values[0].forecast_timestamp == last.event_timestamp + timedelta(seconds=2)


def test_no_anomalies_during_warmup(spark):
    rng = np.random.default_rng(5)
    vals = list(70 + rng.normal(0, 1, 25))
    vals[20] = 500.0  # wild outlier inside warm-up
    df = _series_df(spark, vals)
    out = ml_detect_anomalies(df, "observed_value", "event_timestamp", ["patient_id"], min_training_size=30)
    rows = out.collect()
    assert len(rows) == 25
    assert not any(r.report.is_anomaly for r in rows)


def test_anomaly_flags_outlier_after_warmup(spark):
    rng = np.random.default_rng(11)
    vals = list(70 + rng.normal(0, 1, 60))
    vals[50] = 500.0
    df = _series_df(spark, vals)
    out = ml_detect_anomalies(df, "observed_value", "event_timestamp", ["patient_id"], min_training_size=30)
    rows = sorted(out.collect(), key=lambda r: r.event_timestamp)
    assert rows[50].report.is_anomaly
    flagged = sum(1 for r in rows if r.report.is_anomaly)
    assert flagged <= 4  # the outlier (+ maybe its immediate successor)


def _braday_fixture(spark):
    """The bradycardia acceptance shape: per-patient windowed vitals with
    patient 1's fault glide — the series the reference pipeline alerts on."""
    from health_monitor_cc_flink_spark.fixtures import health_events_df
    from health_monitor_cc_flink_spark.plans.health_pipeline import windowed_vitals

    events = health_events_df(spark, n_ticks=480, interval_s=0.5, seed=42)
    return windowed_vitals(events)


def _noisy_fixture(spark):
    """Full-precision doubles (Gaussian noise — NOT dyadic rationals).
    The bradycardia fixture's integer-snapped vitals make every running
    sum exact, which once masked an association-order mismatch between
    the native and pandas fits (fl((s+y)-y) != s on general data); this
    fixture has no such mercy."""
    import numpy as np
    from datetime import datetime, timedelta

    rng = np.random.default_rng(123)
    rows = [
        (key, datetime(2026, 1, 1) + timedelta(seconds=i), float(v))
        for key in (1, 2, 3)
        for i, v in enumerate(70 + np.cumsum(rng.normal(0, 1.7, 700)))
    ]
    return spark.createDataFrame(
        rows, "patient_id int, event_timestamp timestamp, observed_value double"
    )


@pytest.mark.parametrize("fn", ["detect", "forecast"])
@pytest.mark.parametrize("fixture", ["braday", "noisy"])
def test_native_matches_pandas_bitwise(spark, fn, fixture):
    """The native window-aggregate AR(1) path must be BIT-IDENTICAL to the
    applyInPandas NumPy kernel — every struct field of every row, exact
    float equality (the native expressions mirror the kernel's running
    sums op-for-op) — on the bradycardia fixture AND on full-precision
    Gaussian data where no floating-point identity comes for free."""
    wv = (_braday_fixture(spark) if fixture == "braday" else _noisy_fixture(spark)).cache()

    if fn == "detect":
        kw = dict(min_training_size=30, confidence_percentage=95.0)
        nat = ml_detect_anomalies(
            wv, "observed_value", "event_timestamp", ["patient_id"],
            implementation="native", **kw,
        )
        pan = ml_detect_anomalies(
            wv, "observed_value", "event_timestamp", ["patient_id"],
            implementation="pandas", **kw,
        )
    else:
        kw = dict(horizon=3, confidence_percentage=95.0, min_training_size=2)
        nat = ml_forecast(
            wv, "observed_value", "event_timestamp", ["patient_id"],
            implementation="native", **kw,
        )
        pan = ml_forecast(
            wv, "observed_value", "event_timestamp", ["patient_id"],
            implementation="pandas", **kw,
        )

    key = lambda r: (r.patient_id, r.event_timestamp)
    nrows = sorted(nat.collect(), key=key)
    prows = sorted(pan.collect(), key=key)
    assert len(nrows) == len(prows) and len(nrows) > 1000
    # same names/types; nullability may be tighter on the native path (the
    # struct is provably non-null there) — it never survives the scalar
    # projections every downstream consumer applies
    assert nat.schema.simpleString() == pan.schema.simpleString()

    def strip_aic(d):
        if "forecast_values" in d:
            return {
                **d,
                "forecast_values": [
                    {k: v for k, v in f.items() if k != "aic"}
                    for f in d["forecast_values"]
                ],
            }
        return d

    for a, b in zip(nrows, prows):
        da, db = a.asDict(recursive=True), b.asDict(recursive=True)
        # bit-exact on every consumed field; aic alone may differ by 1 ulp
        # (NumPy's glibc log vs the JVM's fdlibm StrictMath.log round the
        # last bit differently — nothing downstream reads aic)
        assert strip_aic(da) == strip_aic(db), (a, b)
        for fa, fb in zip(
            da.get("forecast_values", []), db.get("forecast_values", [])
        ):
            if fa["aic"] is None or fb["aic"] is None:
                assert fa["aic"] == fb["aic"]
            else:
                assert abs(fa["aic"] - fb["aic"]) <= 4e-15 * max(
                    abs(fa["aic"]), 1.0
                ), (fa, fb)
    wv.unpersist()


def test_native_plan_has_no_python_stage(spark):
    """The native path's physical plan must contain no Python evaluation
    (no ArrowEvalPython / FlatMapGroupsInPandas) and exactly ONE exchange
    — the shuffle on the key that any per-key ordered frame implies."""
    wv = _braday_fixture(spark)
    out = ml_detect_anomalies(
        wv, "observed_value", "event_timestamp", ["patient_id"], implementation="native"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "EvalPython" not in plan
    # windowed_vitals groups on (window, patient_id); the ML frame then
    # shuffles on patient_id — nothing else may add an exchange
    assert plan.count("Exchange") <= 2, plan


def test_multi_key_independence(spark):
    base = _series_df(spark, [70.0] * 45, key=1)
    other = _series_df(spark, [120.0] * 45, key=2)
    df = base.union(other)
    out = ml_forecast(df, "observed_value", "event_timestamp", ["patient_id"])
    last = (
        out.filter(F.size("forecast_values") > 0)
        .withColumn("f", F.element_at("forecast_values", 1))
        .groupBy("patient_id")
        .agg(F.max(F.struct("event_timestamp", "f.forecast_value")).alias("m"))
        .collect()
    )
    by_key = {r.patient_id: r.m.forecast_value for r in last}
    assert by_key[1] == pytest.approx(70.0, abs=1e-6)
    assert by_key[2] == pytest.approx(120.0, abs=1e-6)
