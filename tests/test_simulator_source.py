"""The health simulator as a native Spark data source (batch + stream)."""

import pytest
from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.sources.simulator_source import register


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_batch_read_partitioned_per_patient(spark):
    df = (
        spark.read.format("health_simulator")
        .option("n_ticks", "120")
        .option("n_patients", "10")
        .load()
    )
    assert df.count() == 1200
    assert df.rdd.getNumPartitions() == 10  # one generation partition per patient
    per = df.groupBy("patient_id").count().collect()
    assert all(r["count"] == 120 for r in per)
    # nested schema intact + deterministic across reads
    a = df.filter(F.col("patient_id") == 3).agg(F.sum("vitals.heart_rate")).first()[0]
    b = (
        spark.read.format("health_simulator")
        .option("n_ticks", "120")
        .option("n_patients", "10")
        .load()
        .filter(F.col("patient_id") == 3)
        .agg(F.sum("vitals.heart_rate"))
        .first()[0]
    )
    assert a == b


def test_stream_read_drains_in_batches(spark, tmp_path):
    import time

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("health_simulator")
        .option("n_ticks", "120")
        .option("ticks_per_batch", "50")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        count = 0
        while time.time() < deadline:
            try:
                count = spark.read.parquet(out).count()
            except Exception:
                count = 0
            if count >= 1200:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 1200  # 120 ticks drained across ≥3 micro-batches
    assert got.select("patient_id").distinct().count() == 10


def test_source_feeds_the_pipeline(spark):
    """End-to-end: native source → S3..S6 → patient-1 alerts (the full
    reference topology with zero external infrastructure)."""
    from health_monitor_cc_flink_spark.plans.health_pipeline import run_pipeline
    from health_monitor_cc_flink_spark.sources.memory import patients_df

    events = (
        spark.read.format("health_simulator")
        .option("n_ticks", "480")
        .load()
    )
    stages = run_pipeline(events, patients_df(spark))
    pats = {r.patient_id for r in stages["heartbeat_alerts"].select("patient_id").distinct().collect()}
    assert pats == {1}


def test_native_stream_windowed_agg_equals_batch(spark, tmp_path):
    """Paced multi-batch streaming from the native source through the
    watermarked 1 s tumble must equal the batch plan on watermark-closed
    windows.  (Python stream readers get a single data batch under
    availableNow — no admission control in the Python DataSource API —
    so append-mode stateful output requires paced processingTime
    batches; ticks_per_batch provides the pacing.)"""
    import datetime
    import time

    from health_monitor_cc_flink_spark.plans.health_pipeline import windowed_vitals
    from health_monitor_cc_flink_spark.streaming import with_default_watermark

    batch_events = spark.read.format("health_simulator").option("n_ticks", "480").load()
    cutoff = batch_events.agg(
        (F.max("event_time") - F.expr("INTERVAL 10 SECONDS")).alias("c")
    ).first().c
    expected = sorted(
        map(
            tuple,
            windowed_vitals(batch_events)
            .filter(F.col("event_timestamp") < F.lit(cutoff))
            .collect(),
        )
    )

    stream = (
        spark.readStream.format("health_simulator")
        .option("n_ticks", "480")
        .option("ticks_per_batch", "120")
        .load()
    )
    out = str(tmp_path / "wv")
    q = (
        windowed_vitals(with_default_watermark(stream))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= len(expected):
                    break
            except Exception:
                pass
            time.sleep(2)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == expected
