"""Event-time edge cases from SURVEY.md §5.2: exact window-boundary
assignment, window_time convention, and watermark late-data drops with
crafted late events."""

import datetime

import pytest
from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.operators.relational import tumble
from health_monitor_cc_flink_spark.plans.health_pipeline import windowed_vitals
from health_monitor_cc_flink_spark.streaming import with_default_watermark

BASE = datetime.datetime(2026, 1, 1, 0, 0, 0)


def test_window_boundary_row_goes_to_new_window(spark):
    """A row exactly at a window boundary belongs to the window that
    STARTS there (windows are start-inclusive, end-exclusive)."""
    rows = [
        (1, BASE + datetime.timedelta(seconds=0, microseconds=999_999), 10.0),
        (1, BASE + datetime.timedelta(seconds=1), 20.0),  # exactly on boundary
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = {
        r.window_start: r.n
        for r in tumble(df, "ts", "1 second")
        .groupBy(F.col("window_start"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out[BASE] == 1
    assert out[BASE + datetime.timedelta(seconds=1)] == 1


def test_window_time_is_end_minus_1ms(spark):
    """Flink's window_time convention (SURVEY.md §2.12.5)."""
    df = spark.createDataFrame([(1, BASE, 10.0)], "k int, ts timestamp, v double")
    r = tumble(df, "ts", "1 second").first()
    assert r.window_end == BASE + datetime.timedelta(seconds=1)
    assert r.window_time == BASE + datetime.timedelta(seconds=1) - datetime.timedelta(milliseconds=1)


def test_streaming_drops_late_events_beyond_watermark(spark, tmp_path):
    """Two micro-batches: batch 2 contains a row older than the watermark
    established by batch 1 — it must be dropped; a late-but-within-delay
    row must survive."""
    from health_monitor_cc_flink_spark.schemas import HEALTH_EVENT_SCHEMA

    def ev(pid, sec, hr):
        return (
            BASE + datetime.timedelta(seconds=sec),
            f"e{pid}-{sec}",
            pid,
            ("wearable_v4", 50, "stable"),
            (hr, 96, (120, 80), 36.5),
        )

    path = str(tmp_path / "events")
    # batch 1: advance event time to t+100 s
    spark.createDataFrame([ev(1, s, 70) for s in range(0, 101, 10)], HEALTH_EVENT_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(path)
    out = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(HEALTH_EVENT_SCHEMA).parquet(path)
        (
            windowed_vitals(with_default_watermark(stream, delay="10 seconds"))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    # batch 2: one hopelessly-late row into the already-emitted t+10 s
    # window (watermark is ~t+90 s) and one fresh row advancing the clock
    spark.createDataFrame(
        [ev(1, 10.5, 200), ev(1, 120, 70)], HEALTH_EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(path)
    run_once()

    got = spark.read.parquet(out)
    late_window_start = BASE + datetime.timedelta(seconds=10)
    late = got.filter(
        F.col("event_timestamp")
        == late_window_start + datetime.timedelta(seconds=1) - datetime.timedelta(milliseconds=1)
    ).collect()
    # the t+5s window was emitted in run 1 with hr=70 only; the late
    # hr=200 reading must NOT have produced a second/updated row
    assert len(late) == 1 and late[0].observed_value == 70.0


def test_session_tvf_merges_rows_into_one_window(spark):
    """SESSION TVF semantics: rows within the gap share ONE merged window
    whose end = last event + gap — NOT the per-row proto-window
    [ts, ts+gap) that F.session_window emits outside an aggregation
    (regression: the old projection form split every session into
    per-event windows)."""
    from health_monitor_cc_flink_spark.operators.relational import session

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:05"),
         (1, "2024-01-01 00:10:00"), (2, "2024-01-01 00:00:02")],
        "k int, ts_s string",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts")
    out = {
        (r.k, str(r.ts)): (str(r.window_start), str(r.window_end))
        for r in session(df, "ts", "30 seconds", partition_by=("k",)).collect()
    }
    # the two events 5s apart share one merged window ending last+gap
    merged = ("2024-01-01 00:00:00", "2024-01-01 00:00:35")
    assert out[(1, "2024-01-01 00:00:00")] == merged
    assert out[(1, "2024-01-01 00:00:05")] == merged
    # the isolated event starts its own session
    assert out[(1, "2024-01-01 00:10:00")] == (
        "2024-01-01 00:10:00", "2024-01-01 00:10:30"
    )
    # keys never merge across partitions
    assert out[(2, "2024-01-01 00:00:02")] == (
        "2024-01-01 00:00:02", "2024-01-01 00:00:32"
    )


def test_cumulate_floors_pre_epoch_timestamps(spark):
    """CUMULATE window alignment must FLOOR for pre-epoch timestamps:
    Spark's % keeps the dividend's sign, so the old `sec - sec % size`
    assigned a 1969 row to a base window starting AFTER it."""
    from health_monitor_cc_flink_spark.operators.relational import cumulate

    df = spark.createDataFrame(
        [("1969-12-31 23:59:55",)], "ts_s string"
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts")
    rows = cumulate(df, "ts", 5, 10).select("window_start", "window_end").collect()
    starts = {str(r.window_start) for r in rows}
    assert starts == {"1969-12-31 23:59:50"}, starts
    # every emitted sub-window must actually contain the row
    for r in rows:
        assert str(r.window_start) <= "1969-12-31 23:59:55" < str(r.window_end)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_session_tvf_matches_python_reference(spark, seed):
    """Randomized cross-check of the session TVF against an obvious
    O(n log n) Python sessionizer: random event sets with few keys,
    duplicate timestamps, and gaps straddling the boundary."""
    import random

    rng = random.Random(seed)
    gap_s = 30
    rows = []
    for i in range(rng.randint(20, 60)):
        k = rng.randint(1, 3)
        # coarse second grid → plenty of exact-boundary and duplicate ts
        t = rng.randint(0, 20) * 15
        rows.append((i, k, t))

    # python reference: per key, sort by ts; new session when gap exceeded
    expected = {}
    for k in {r[1] for r in rows}:
        ts = sorted(t for (_, kk, t) in rows if kk == k)
        sessions, cur = [], [ts[0]]
        for t in ts[1:]:
            if t - cur[-1] > gap_s:
                sessions.append(cur)
                cur = [t]
            else:
                cur.append(t)
        sessions.append(cur)
        for s in sessions:
            for t in s:
                expected[(k, t)] = (min(s), max(s) + gap_s)

    df = spark.createDataFrame(rows, "event_id long, k int, sec long").selectExpr(
        "event_id", "k", "timestamp_seconds(sec) AS ts"
    )
    from health_monitor_cc_flink_spark.operators.relational import session

    got = session(df, "ts", f"{gap_s} seconds", partition_by=("k",))
    for r in got.selectExpr(
        "k",
        "unix_seconds(ts) AS t",
        "unix_seconds(window_start) AS ws",
        "unix_seconds(window_end) AS we",
    ).collect():
        assert expected[(r.k, r.t)] == (r.ws, r.we), (r.k, r.t)


@pytest.mark.parametrize("seed", [0, 1])
def test_cumulate_matches_python_reference(spark, seed):
    """Randomized cross-check of CUMULATE against the definition: a row
    belongs to every expanding sub-window of its floor-aligned base
    window whose end lies after the row — including pre-epoch rows."""
    import random

    rng = random.Random(seed)
    step_s, size_s = 5, 20
    secs = [rng.randint(-100, 100) for _ in range(40)]

    def ref(sec):
        base = sec - (sec % size_s + size_s) % size_s  # floor alignment
        return {
            (base, base + k * step_s)
            for k in range(1, size_s // step_s + 1)
            if sec < base + k * step_s
        }

    df = spark.createDataFrame([(i, s) for i, s in enumerate(secs)],
                               "event_id long, sec long").selectExpr(
        "event_id", "sec", "timestamp_seconds(sec) AS ts"
    )
    from health_monitor_cc_flink_spark.operators.relational import cumulate

    got = {}
    for r in cumulate(df, "ts", step_s, size_s).selectExpr(
        "event_id", "sec",
        "unix_seconds(window_start) AS ws",
        "unix_seconds(window_end) AS we",
    ).collect():
        got.setdefault(r.event_id, set()).add((r.ws, r.we))
    for i, s in enumerate(secs):
        assert got.get(i, set()) == ref(s), (i, s)
