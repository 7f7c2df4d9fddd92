"""The SQL-text pipeline (S3..S6 as spark.sql statements + ML table
functions) must agree with the DataFrame pipeline on the golden
bradycardia fixture."""

import pytest
from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.fixtures import health_events_df
from health_monitor_cc_flink_spark.plans.health_pipeline import run_pipeline
from health_monitor_cc_flink_spark.plans.health_pipeline_sql import run_pipeline_sql
from health_monitor_cc_flink_spark.sources.memory import patients_df


@pytest.fixture(scope="module")
def events(spark):
    return health_events_df(spark, n_ticks=480, interval_s=0.5, seed=42).cache()


def test_sql_pipeline_matches_dataframe_pipeline(spark, events):
    patients = patients_df(spark)
    df_stages = run_pipeline(events, patients)
    sql_stages = run_pipeline_sql(spark, events, patients)

    # S3: identical row multiset on the projected columns
    cols = ["event_id", "patient_id", "name", "age"]
    a = sorted(map(tuple, df_stages["enriched_events"].select(cols).collect()))
    b = sorted(map(tuple, sql_stages["enriched_events"].select(cols).collect()))
    assert a == b

    # S4/S5: same anomaly verdicts per (patient, window)
    df_flags = {
        (r.patient_id, r.event_timestamp): r.report.is_anomaly
        for r in df_stages["enriched_events_flagged"].collect()
    }
    sql_flags = {
        (r.patient_id, r.event_timestamp): r.is_anomaly
        for r in sql_stages["enriched_events_flagged"].collect()
    }
    assert df_flags == sql_flags

    # S6: same alert set (patient, window, forecast rounded)
    def alert_set(df, val_col="forecast_value"):
        return {
            (r.patient_id, r.event_timestamp, round(r[val_col], 9))
            for r in df.collect()
        }

    assert alert_set(sql_stages["heartbeat_alerts"]) == alert_set(
        df_stages["heartbeat_alerts"]
    )
    pats = {r.patient_id for r in sql_stages["heartbeat_alerts"].collect()}
    assert pats == {1}


def test_online_ar1_bit_parity_on_hostile_floats(spark):
    """The SQL ml_forecast UDTF must agree BIT-FOR-BIT with the online
    (one point per call, state carried) kernel even in the
    catastrophic-cancellation regime: values ~1e15 with unit-scale
    deltas, where fl((s+y)-y) != s and any reordering of the running
    sums shows in the last bits."""
    import datetime

    import numpy as np

    from health_monitor_cc_flink_spark.functions.sql_udtf import register_sql_ml_functions
    from health_monitor_cc_flink_spark.functions.timeseries import _zcrit, forecast_steps

    y = (1e15 + np.random.default_rng(7).normal(0, 1, 200)).tolist()
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(1, t0 + datetime.timedelta(seconds=i), v) for i, v in enumerate(y)]
    spark.createDataFrame(
        rows, "patient_id int, event_timestamp timestamp, observed_value double"
    ).createOrReplaceTempView("hostile_vitals")
    register_sql_ml_functions(spark)
    try:
        got = spark.sql(
            "SELECT current_value, forecast_value, lower_bound, upper_bound, rmse, aic "
            "FROM ml_forecast(TABLE(hostile_vitals) PARTITION BY patient_id "
            "ORDER BY event_timestamp) ORDER BY event_timestamp"
        ).collect()
    finally:
        spark.catalog.dropTempView("hostile_vitals")

    want, state = [], None
    for v in y:
        steps, state = forecast_steps([v], _zcrit(95.0), 1, 2, state)
        want += [(v, *step[1:]) for step in steps[0]]
    assert len(got) == len(want) > 0
    for i, (mine, ref) in enumerate(zip(map(tuple, got), want)):
        assert mine == ref, f"row {i}: {mine} vs online kernel {ref}"


def test_sql_pipeline_does_not_clobber_session_views(spark, events):
    """run_pipeline_sql registers its working views under a per-run
    prefix: an identically-named view another component registered on
    the shared session (e.g. the driver testdata `events` view) must
    survive the run untouched."""
    spark.range(5).selectExpr("id AS user_id").createOrReplaceTempView("events")
    try:
        stages = run_pipeline_sql(spark, events, patients_df(spark))
        assert {r.patient_id for r in stages["heartbeat_alerts"].collect()} == {1}
        assert spark.table("events").columns == ["user_id"]
    finally:
        spark.catalog.dropTempView("events")


def test_run_pipeline_materialize_requires_catalog(spark, events):
    """materialize=True without a catalog must raise, not silently return
    un-checkpointed lazy frames."""
    import pytest as _pytest

    from health_monitor_cc_flink_spark.sources.memory import patients_df as _p

    with _pytest.raises(ValueError, match="materialize"):
        run_pipeline(events, _p(spark), materialize=True)
