"""The driver's testdata generator has shipped `events.ts` as both
parquet TIMESTAMP(NANOS) (read as int64 under nanosAsLong) and
timestamp[us].  The loaders must produce the SAME canonical frame for
either encoding — this pins the adaptivity so the next generation
change fails here, not in the driver's correctness gate."""

from pyspark.sql import functions as F, types as T

from health_monitor_cc_flink_spark.sources import testdata
from health_monitor_cc_flink_spark.sources.testdata import (
    events_stream,
    load_events,
    normalize_events,
)

CANON_COLS = ["event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"]


def test_load_events_canonical_schema(spark, sf_smoke_dir):
    ev = load_events(spark, sf_smoke_dir)
    assert ev.columns == CANON_COLS
    dt = dict(ev.dtypes)
    assert dt["ts_ns"] == "bigint"
    assert dt["ts"] == "timestamp"


def test_both_encodings_normalize_identically(spark, tmp_path):
    rows = [
        (1, 1704067200_123456_000, 10, "click", 1.5, "{}"),
        (2, 1704067201_987654_000, 11, "view", 2.5, "{}"),
    ]
    nanos_df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
    )
    us_df = nanos_df.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast(T.TimestampNTZType())
    )

    a = normalize_events(nanos_df).orderBy("event_id").collect()
    b = normalize_events(us_df).orderBy("event_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    # exact integer microsecond parity (house rule 1: ts_ns div 1000 ≡ epoch_us)
    assert [r.ts_ns for r in a] == [1704067200_123456_000, 1704067201_987654_000]


def test_events_stream_matches_batch(spark, sf_smoke_dir):
    import uuid

    src = events_stream(spark, sf_smoke_dir).select("event_id", "user_id", "ts")
    name = "adaptive_stream_" + uuid.uuid4().hex[:8]
    (
        src.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {(r.event_id, r.user_id, r.ts) for r in spark.table(name).collect()}
    want = {
        (r.event_id, r.user_id, r.ts)
        for r in load_events(spark, sf_smoke_dir).select("event_id", "user_id", "ts").collect()
    }
    assert got == want


def test_stream_schema_cache_reinfers_on_rewrite_one_entry_per_path(
    tmp_path, monkeypatch
):
    """The streaming schema cache signs every file below a table
    directory, subdirectories included, and replaces the path's entry
    when that signature changes instead of growing a stale one."""
    table = tmp_path / "events.parquet"
    (table / "day=1").mkdir(parents=True)
    top = table / "part-00000.parquet"
    nested = table / "day=1" / "part-00001.parquet"
    top.write_bytes(b"a")
    nested.write_bytes(b"b")
    key = str(table)
    monkeypatch.setattr(testdata, "_STREAM_SCHEMA_CACHE", {})
    calls = []

    def infer():
        calls.append(1)
        return len(calls)

    assert testdata._cached_schema(None, key, infer) == 1
    assert testdata._cached_schema(None, key, infer) == 1  # cache hit
    for n, part in enumerate((top, nested), start=2):
        part.write_bytes(part.read_bytes() * 2)  # rewritten in place
        assert testdata._cached_schema(None, key, infer) == n
        assert testdata._cached_schema(None, key, infer) == n
        assert len(testdata._STREAM_SCHEMA_CACHE) == 1
