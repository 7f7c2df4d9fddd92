"""Streaming equivalence tests (SURVEY.md §5.2.4): each stage run via
Structured Streaming with a file source + availableNow trigger must
match the batch plan (modulo watermark-dropped late rows), and the
end-to-end streaming pipeline must reproduce the golden bradycardia
signal."""

import datetime
import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from health_monitor_cc_flink_spark.fixtures import health_events_df
from health_monitor_cc_flink_spark.functions.timeseries import (
    ml_detect_anomalies,
    ml_forecast,
)
from health_monitor_cc_flink_spark.plans.health_pipeline import (
    enriched_events,
    run_pipeline,
    windowed_vitals,
)
from health_monitor_cc_flink_spark.schemas import HEALTH_EVENT_SCHEMA
from health_monitor_cc_flink_spark.sources.memory import patients_df
from health_monitor_cc_flink_spark.streaming import (
    run_streaming_pipeline,
    streaming_detect_anomalies,
    streaming_forecast,
    with_default_watermark,
)


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "events")
    health_events_df(spark, n_ticks=480, interval_s=0.5, seed=42).write.mode(
        "overwrite"
    ).parquet(path)
    return path


@pytest.fixture(scope="module")
def long_windowed(spark):
    """1,200 one-second windows for each of 10 patients: longer than any
    fixed per-key history a streaming operator might keep."""
    events = health_events_df(spark, n_ticks=2400, interval_s=0.5, seed=42)
    return windowed_vitals(events).cache()


def _write_time_slices(df, ts_col, path, n_files):
    """Write ``df`` to ``path`` as ``n_files`` contiguous event-time slices,
    one parquet file each.  The file stream source reads files in
    modification-time order, so each slice's mtime is set after the last."""
    ts = sorted(r[0] for r in df.select(ts_col).distinct().collect())
    starts = [ts[len(ts) * i // n_files] for i in range(n_files)] + [None]
    for i, (lo, hi) in enumerate(zip(starts, starts[1:])):
        cond = F.col(ts_col) >= F.lit(lo)
        if hi is not None:
            cond &= F.col(ts_col) < F.lit(hi)
        before = set(glob.glob(os.path.join(path, "*.parquet")))
        df.filter(cond).coalesce(1).write.mode("append").parquet(path)
        for f in set(glob.glob(os.path.join(path, "*.parquet"))) - before:
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _drain(spark, frame, name):
    q = (
        frame.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(map(tuple, spark.table(name).collect()))


SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)

BASE = 1_767_225_600  # 2026-01-01T00:00:00Z epoch seconds


def _write_batch(spark, spec, out_dir, name, mtime):
    """spec: list of (user_id, event_type, t_offset_s).  One parquet
    file named so the file source sees increasing modification times."""
    data = [
        (i, uid, et, (BASE + off) * 1_000_000)
        for i, (uid, et, off) in enumerate(spec)
    ]
    df = (
        spark.createDataFrame(
            data, "event_id long, user_id long, event_type string, ts_us long"
        )
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .select("event_id", "ts", "user_id", "event_type")
        .coalesce(1)
    )
    tmp = out_dir + f"_tmp_{name}"
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.makedirs(out_dir, exist_ok=True)
    dst = os.path.join(out_dir, f"{name}.parquet")
    shutil.copyfile(os.path.join(tmp, part), dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp)


@pytest.mark.parametrize("n_files", [1, 12])
def test_streaming_ml_equals_batch_for_any_split(spark, long_windowed, tmp_path, n_files):
    """Batch == streaming for any micro-batch split and any history
    length: with 1,200 windows per key read one file per micro-batch,
    every report and forecast field (NULL warm-up rows included) equals
    the batch operators' output exactly.  The batch side is the pandas
    reference path; native == pandas is pinned in tests/test_timeseries.py
    (aic there to 1 ulp: the JVM's log may round differently)."""
    path = str(tmp_path / "wv")
    _write_time_slices(long_windowed, "event_timestamp", path, n_files)
    src = with_default_watermark(
        spark.readStream.schema(long_windowed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path),
        "event_timestamp",
    )
    args = dict(value_col="observed_value", ts_col="event_timestamp")

    detected = _drain(
        spark,
        streaming_detect_anomalies(src, key_col="patient_id", **args),
        f"split_detect_{n_files}",
    )
    report = ml_detect_anomalies(
        long_windowed, key_cols=["patient_id"], implementation="pandas", **args
    )
    assert detected == sorted(
        map(
            tuple,
            report.select(
                "patient_id",
                "event_timestamp",
                "observed_value",
                "report.is_anomaly",
                "report.expected_value",
                "report.lower_bound",
                "report.upper_bound",
            ).collect(),
        )
    )
    assert len(detected) == 12_000
    assert sum(r[4] is None for r in detected) == 30  # 3 warm-up rows per key

    forecast = _drain(
        spark,
        streaming_forecast(src, key_col="patient_id", **args),
        f"split_forecast_{n_files}",
    )
    batch_fc = ml_forecast(
        long_windowed, key_cols=["patient_id"], implementation="pandas", **args
    ).select(
        "patient_id",
        "event_timestamp",
        "observed_value",
        F.explode("forecast_values").alias("f"),
    )
    assert forecast == sorted(
        map(
            tuple,
            batch_fc.select(
                "patient_id",
                "event_timestamp",
                "observed_value",
                "f.forecast_timestamp",
                "f.forecast_value",
                "f.lower_bound",
                "f.upper_bound",
                "f.rmse",
                "f.aic",
            ).collect(),
        )
    )
    assert len(forecast) == 12_000 - 20  # no fit before a key's 3rd point


def test_streaming_window_agg_equals_batch(spark, events_path, tmp_path):
    """Streaming append-mode emits exactly the windows the final
    watermark closed (watermark = max event time − delay at stream end);
    on those windows results must equal batch bit-for-bit."""
    batch_events = spark.read.parquet(events_path)
    cutoff = batch_events.agg(
        (F.max("event_time") - F.expr("INTERVAL 10 SECONDS")).alias("c")
    ).first().c
    expected = (
        windowed_vitals(batch_events).filter(F.col("event_timestamp") < F.lit(cutoff)).collect()
    )

    stream = spark.readStream.schema(HEALTH_EVENT_SCHEMA).parquet(events_path)
    out = str(tmp_path / "wv")
    (
        windowed_vitals(with_default_watermark(stream))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out).collect()
    assert len(got) == len(expected)
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_streaming_pipeline_golden_bradycardia(spark, events_path, tmp_path):
    patients = patients_df(spark)
    paths = run_streaming_pipeline(
        spark,
        events_path,
        HEALTH_EVENT_SCHEMA,
        patients,
        out_dir=str(tmp_path / "pipe"),
    )
    assert set(paths) == {
        "enriched_events",
        "windowed_vitals",
        "enriched_events_flagged",
        "filtered_enriched_events",
        "heartbeat_alerts",
    }
    # dead-end enrichment branch materialized with joined dimension cols
    enriched = spark.read.parquet(paths["enriched_events"])
    assert {"name", "age"} <= set(enriched.columns)
    assert enriched.count() == 4800

    # cleaning stage drops every anomalous row
    filtered = spark.read.parquet(paths["filtered_enriched_events"])
    assert filtered.filter(F.col("is_anomaly")).count() == 0

    alerts = spark.read.parquet(paths["heartbeat_alerts"])
    alert_patients = {r.patient_id for r in alerts.select("patient_id").distinct().collect()}
    assert alert_patients == {1}
    assert alerts.filter(F.col("forecast_value") >= 40).count() == 0

    # S3 is the batch stage itself: same columns, in the same order
    batch_events = spark.read.parquet(events_path)
    assert enriched.schema.fieldNames() == enriched_events(
        batch_events, patients
    ).schema.fieldNames()

    # the alerts equal batch S3-S6 on every window the windowing query's
    # final watermark closed (a window closes once its end, event_timestamp
    # + 1 ms, is at or below the watermark)
    wm = paths.queries["windowed_vitals"].recentProgress[-1].eventTime["watermark"]
    cutoff = (
        datetime.datetime.fromisoformat(wm.replace("Z", "+00:00"))
        .astimezone()
        .replace(tzinfo=None)
    )

    def rows(df):
        return sorted((int(r[0]), *r[1:]) for r in map(tuple, df.collect()))

    expected = [
        r
        for r in rows(run_pipeline(batch_events, patients)["heartbeat_alerts"])
        if r[1] < cutoff
    ]
    assert expected
    assert rows(alerts) == expected


def test_stream_static_dim_refresh_via_foreachbatch(spark, tmp_path):
    """O32 freshness: with foreachBatch re-reading the dimension from
    disk, a dimension update between micro-batches is visible to later
    batches (the stream-static refresh pattern)."""
    from health_monitor_cc_flink_spark.schemas import PATIENTS_SCHEMA

    base = datetime.datetime(2026, 6, 1)
    src = str(tmp_path / "src")
    dim_path = str(tmp_path / "dim")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame([(1, "Old Name", 40)], PATIENTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(dim_path)

    ev_schema = "patient_id int, event_time timestamp"

    def feed(sec):
        spark.createDataFrame(
            [(1, base + datetime.timedelta(seconds=sec))], ev_schema
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)

        def enrich(batch_df, batch_id):
            dim = spark.read.parquet(dim_path)  # re-read → always current
            batch_df.join(dim, "patient_id").write.mode("append").parquet(out)

        (
            stream.writeStream.foreachBatch(enrich)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    feed(0)
    run_once()
    # update the dimension, then stream more rows
    spark.createDataFrame([(1, "New Name", 41)], PATIENTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(dim_path)
    feed(10)
    run_once()

    names = {r.event_time: r.name for r in spark.read.parquet(out).collect()}
    assert names[base] == "Old Name"
    assert names[base + datetime.timedelta(seconds=10)] == "New Name"


def test_stream_table_directory_layout(spark, tmp_path):
    """_stream_table must stream a Spark-written part-file DIRECTORY
    (the production table layout, also what scale-probe replicas write)
    identically to the driver's single-file layout."""
    from health_monitor_cc_flink_spark.sources.testdata import (
        _stream_table,
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    # re-write as a directory named documents.parquet under a fresh root
    root = str(tmp_path / "dirsf")
    docs.write.mode("overwrite").parquet(f"{root}/documents.parquet")

    out = (
        _stream_table(spark, root, "documents")
        .groupBy()
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("dir_layout_count")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    n_stream = spark.table("dir_layout_count").first()[0]
    assert n_stream == docs.count()


def test_streaming_pipeline_continuous_mode_starts_and_flows(
    spark, events_path, tmp_path
):
    """available_now=False (the advertised continuous mode) must start
    all five chained queries without crashing — re-source schemas come
    from the upstream DataFrames, not from reading a not-yet-written
    parquet dir — and data must flow through at least the first stages
    while the queries run."""
    import time as _time

    paths = run_streaming_pipeline(
        spark,
        events_path,
        HEALTH_EVENT_SCHEMA,
        patients_df(spark),
        out_dir=str(tmp_path / "cont"),
        available_now=False,
    )
    # the run hands back its own StreamingQuery handles — no scraping
    # spark.streams.active (which races with unrelated queries)
    ours = list(paths.queries.values())
    try:
        assert len(ours) == 5 and all(q.isActive for q in ours)
        assert set(paths.queries) == set(paths)  # one handle per stage
        deadline = _time.time() + 90
        seen = 0
        while _time.time() < deadline:
            try:
                seen = spark.read.parquet(paths["windowed_vitals"]).count()
            except Exception:
                seen = 0
            if seen > 0:
                break
            _time.sleep(2)
        assert seen > 0, "no data flowed through the windowed stage"
        assert spark.read.parquet(paths["enriched_events"]).count() > 0
    finally:
        for q in ours:
            q.stop()
        for q in ours:
            q.awaitTermination(30)


def test_streaming_anomalies_warmup_rows_are_fully_null(spark, tmp_path):
    """Batch/stream parity on the WARM-UP mask: while the prev-fit sigma is
    non-finite (first rows of a key), BOTH batch paths NULL the whole
    report (expected_value included — the raw expected is a finite 0.0 or
    y[0] there), so the streaming scorer must too."""
    from health_monitor_cc_flink_spark.streaming.stateful import (
        streaming_detect_anomalies,
    )

    src = str(tmp_path / "warmup_src")
    spark.createDataFrame(
        [(1, i, 80.0 + (i % 5)) for i in range(12)], "user_id long, t long, v double"
    ).selectExpr(
        "user_id", "timestamp_seconds(t) AS ts", "v AS observed_value"
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, observed_value double"
    ).parquet(src)
    flagged = streaming_detect_anomalies(
        stream.withWatermark("ts", "10 seconds"),
        value_col="observed_value",
        ts_col="ts",
        key_col="user_id",
        min_training_size=5,
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("warmup_null_check")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(spark.table("warmup_null_check").collect(), key=lambda r: r.event_timestamp)
    assert len(rows) == 12
    # rows 0-2: no valid prev fit (sigma inf) -> the whole report is NULL
    for r in rows[:3]:
        assert r.expected_value is None and r.lower_bound is None and r.upper_bound is None
    # from row 3 on the k>=2 fit exists -> all three present
    for r in rows[3:]:
        assert r.expected_value is not None and r.lower_bound is not None


def test_streaming_forecast_constant_history_emits_null_aic(spark, tmp_path):
    """A constant series gives sse=0: sigma clamps finite (rows emit) but
    aic is undefined — batch emits NULL there, so streaming must too (NaN
    would diverge under `aic IS NULL` filters and the oracle hash)."""
    import math

    from health_monitor_cc_flink_spark.streaming.stateful import streaming_forecast

    src = str(tmp_path / "const_src")
    spark.createDataFrame(
        [(1, i, 50.0) for i in range(8)], "user_id long, t long, v double"
    ).selectExpr(
        "user_id", "timestamp_seconds(t) AS ts", "v AS observed_value"
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, observed_value double"
    ).parquet(src)
    fc = streaming_forecast(
        stream.withWatermark("ts", "10 seconds"),
        value_col="observed_value",
        ts_col="ts",
        key_col="user_id",
        min_training_size=2,
    )
    q = (
        fc.writeStream.format("memory")
        .queryName("const_aic_check")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("const_aic_check").collect()
    assert rows, "constant series must still emit forecasts (sigma clamps finite)"
    for r in rows:
        assert r.aic is None or math.isfinite(r.aic), f"NaN leaked into aic: {r}"
    assert any(r.aic is None for r in rows), "sse=0 rows must have NULL aic"


def test_streaming_anomalies_drop_below_watermark_rows(spark, tmp_path):
    """A row arriving below the watermark must be dropped by the
    streaming scorer, not appended out-of-event-order into the AR
    history: the emitted set contains only the in-watermark rows, and
    the late row produces no output row."""
    from health_monitor_cc_flink_spark.streaming.stateful import (
        streaming_detect_anomalies,
    )

    src = str(tmp_path / "anom_src")
    now = time.time()
    # batch a: 40 in-order points for key 1 (offsets 0..39 s)
    _write_batch(spark, [(1, "v", i) for i in range(40)], src, "a", now - 400)
    # batch b: far-future row pushes the watermark past batch a
    _write_batch(spark, [(1, "v", 100_000)], src, "b", now - 300)
    # batch c: LATE row (below the watermark now at 100_000 - 3600)
    _write_batch(spark, [(1, "v", 50)], src, "c", now - 200)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 hour")
    )
    # score event_id as the value column (deterministic integers)
    flagged = streaming_detect_anomalies(
        stream.withColumn("value", F.col("event_id").cast("double")),
        value_col="value",
        ts_col="ts",
        key_col="user_id",
        min_training_size=30,
    )
    out_dir = str(tmp_path / "anom_out")
    (
        flagged.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "anom_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got_ts = sorted(
        r.event_timestamp.timestamp() - BASE
        for r in spark.read.parquet(out_dir).collect()
    )
    # 40 batch-a rows + the future sentinel row; the late offset-50 row
    # must NOT appear (and must not have corrupted the history order)
    assert got_ts == [float(i) for i in range(40)] + [100_000.0]
