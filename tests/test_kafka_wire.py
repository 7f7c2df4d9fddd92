"""O1/O5 Kafka+Avro ingestion, exercised on REAL Avro-framed bytes.

No broker in this sandbox, so the test feeds recorded Confluent-framed
Avro binary through the exact decode stage `read_kafka_avro_stream`
uses (`sources.kafka.decode_avro_values`: Catalyst wire-format strip →
Avro decode) and on into the S4 windowed-vitals aggregation — closing
the "sources/kafka.py is complete but never runs" gap.  Conformance of
the fixture bytes is pinned against the *Java* Avro library on Spark's
classpath (avro-1.12.1.jar), so the pure-Python codec can't drift from
the Avro spec unnoticed.
"""

import datetime as dt

from pyspark.sql import functions as F, types as T

from health_monitor_cc_flink_spark.fixtures import health_events_df
from health_monitor_cc_flink_spark.plans.health_pipeline import windowed_vitals
from health_monitor_cc_flink_spark.schemas import HEALTH_EVENT_SCHEMA
from health_monitor_cc_flink_spark.sources.avro_codec import (
    confluent_frame,
    decode_record,
    encode_record,
    strip_confluent_frame,
)
from health_monitor_cc_flink_spark.sources.kafka import (
    avro_schema_json,
    decode_avro_values,
)

# The Avro *value* schema excludes event_time — that's the Kafka record
# timestamp ($rowtime), carried as record metadata, not in the payload
# (schema.tf has no timestamp field; flink_statements.tf:119 projects $rowtime).
VALUE_SCHEMA = T.StructType([f for f in HEALTH_EVENT_SCHEMA.fields if f.name != "event_time"])
SCHEMA_JSON = avro_schema_json(VALUE_SCHEMA)

SAMPLE = {
    "event_id": "evt-00000001",
    "patient_id": 7,
    "device_metadata": {
        "device_type": "wearable",
        "battery_level": 88,
        "sensor_status": "ok",
    },
    "vitals": {
        "heart_rate": 82,
        "blood_oxygen_spO2": 97,
        "blood_pressure": {"systolic": 120, "diastolic": 80},
        "body_temperature_c": 36.5,
    },
}


def _row_to_record(row) -> dict:
    return {
        "event_id": row.event_id,
        "patient_id": row.patient_id,
        "device_metadata": row.device_metadata.asDict(),
        "vitals": {
            "heart_rate": row.vitals.heart_rate,
            "blood_oxygen_spO2": row.vitals.blood_oxygen_spO2,
            "blood_pressure": row.vitals.blood_pressure.asDict(),
            "body_temperature_c": row.vitals.body_temperature_c,
        },
    }


KAFKA_SHAPE = "value binary, timestamp timestamp"


def _framed_records(spark, rows):
    """Typed event rows → a Kafka-record-shaped batch frame of
    Confluent-framed Avro values, record timestamp = event_time."""
    framed = [
        (bytearray(confluent_frame(encode_record(SCHEMA_JSON, _row_to_record(r)), 7)), r.event_time)
        for r in rows
    ]
    return spark.createDataFrame(framed, KAFKA_SHAPE)


def test_codec_roundtrip_and_framing():
    payload = encode_record(SCHEMA_JSON, SAMPLE)
    framed = confluent_frame(payload, schema_id=100042)
    assert framed[0] == 0 and len(framed) == len(payload) + 5
    schema_id, stripped = strip_confluent_frame(framed)
    assert schema_id == 100042 and stripped == payload
    decoded = decode_record(SCHEMA_JSON, stripped)
    # float32 survives exactly here because 36.5 is representable
    assert decoded == SAMPLE


def test_decode_record_truncated_payload_raises_value_error():
    """Every strict prefix of an encoded event is malformed input and
    raises ValueError, whichever primitive the cut lands in (varint,
    string body, or the trailing float32)."""
    payload = encode_record(SCHEMA_JSON, SAMPLE)
    for n in range(len(payload)):
        with pytest.raises(ValueError):
            decode_record(SCHEMA_JSON, payload[:n])


def test_python_codec_matches_java_avro(spark):
    """Spec conformance: bytes from the Python encoder must decode
    identically in the reference Java Avro implementation (the library
    Kafka/Flink/Spark all use), field by field, including nested records."""
    payload = encode_record(SCHEMA_JSON, SAMPLE)
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(SCHEMA_JSON)
    reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)
    decoder = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(payload, None)
    rec = reader.read(None, decoder)
    assert str(rec.get("event_id")) == SAMPLE["event_id"]
    assert rec.get("patient_id") == SAMPLE["patient_id"]
    dm = rec.get("device_metadata")
    assert str(dm.get("device_type")) == "wearable"
    assert dm.get("battery_level") == 88
    vit = rec.get("vitals")
    assert vit.get("heart_rate") == 82
    bp = vit.get("blood_pressure")
    assert bp.get("systolic") == 120 and bp.get("diastolic") == 80
    assert abs(vit.get("body_temperature_c") - 36.5) < 1e-6
    # and the reverse: Java-encoded bytes decode identically in Python
    baos = jvm.java.io.ByteArrayOutputStream()
    encoder = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
    jvm.org.apache.avro.generic.GenericDatumWriter(schema).write(rec, encoder)
    encoder.flush()
    assert decode_record(SCHEMA_JSON, bytes(baos.toByteArray())) == SAMPLE


def test_wire_format_stream_to_windowed_vitals(spark, tmp_path):
    """End-to-end: simulator events → Confluent-framed Avro bytes →
    file-streamed Kafka-record shape → wire strip + decode →
    S4 windowed aggregation — streaming result equals the batch result
    computed straight from the original typed events."""
    events = health_events_df(spark, n_ticks=60, interval_s=0.5, seed=7)
    rows = events.collect()

    records_path = str(tmp_path / "records")
    _framed_records(spark, rows).write.parquet(records_path)

    stream = spark.readStream.schema(KAFKA_SHAPE).parquet(records_path)
    decoded = decode_avro_values(stream, VALUE_SCHEMA, decoder="python")
    agg = windowed_vitals(decoded.withWatermark("event_time", "10 seconds"))

    name = "wire_e2e_sink"
    (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r.patient_id, r.event_timestamp): r.observed_value
        for r in spark.table(name).collect()
    }
    assert got, "stream produced no windows"

    batch = {
        (r.patient_id, r.event_timestamp): r.observed_value
        for r in windowed_vitals(events).collect()
    }
    # append-mode emits only watermark-closed windows; every emitted
    # window must match the batch value exactly
    for k, v in got.items():
        assert k in batch and batch[k] == v, k
    # and the emitted set is the closed-window prefix: everything except
    # windows at/after (max event time - delay)
    wm = max(r.event_time for r in rows) - dt.timedelta(seconds=10)
    expected_closed = {k for k, r in batch.items() if k[1] < wm}
    assert set(got) >= expected_closed


def test_batch_decode_timestamps_are_exact(spark):
    """timestamp-micros decode to the exact microsecond over the whole
    range Spark holds, top-level and nested: no float round trip drops
    the last microsecond of a far-future value, and 9999-12-31
    23:59:59.999999 does not overflow into year 10000."""
    inner = T.StructType([T.StructField("ts", T.TimestampType())])
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("inner", inner),
        ]
    )
    schema_json = avro_schema_json(schema)
    micros = [-1, 1, 253402300799000001, 253402300799999999]
    records = spark.createDataFrame(
        [
            (bytearray(confluent_frame(encode_record(schema_json, {"id": i, "ts": us, "inner": {"ts": us}}), 7)),
             dt.datetime(2026, 1, 1))
            for i, us in enumerate(micros)
        ],
        KAFKA_SHAPE,
    )
    decoded = decode_avro_values(records, schema, decoder="python")
    got = sorted(
        decoded.select(
            "id",
            F.unix_micros("ts"),
            F.unix_micros("inner.ts"),
            F.col("ts").cast("string"),
            F.col("inner.ts").cast("string"),
        ).collect()
    )
    epoch = dt.datetime(1970, 1, 1)
    expected = []
    for i, us in enumerate(micros):
        text = (epoch + dt.timedelta(microseconds=us)).isoformat(" ")
        expected.append((i, us, us, text, text))
    assert [tuple(r) for r in got] == expected
    assert expected[-1][3] == "9999-12-31 23:59:59.999999"


def test_batch_decode_runs_once_for_s3_and_s4(spark, tmp_path):
    """A batch decode is stored by its first action and read back by every
    later one: neither the S3 join count nor a second aggregate re-runs the
    Python decoder (no MapInArrow/MapInPandas/PythonUDF in their executed
    plans; both scan the checkpointed rows).  The decoded rows equal the
    typed fixture, and a streaming input is still decoded in its plan."""
    from health_monitor_cc_flink_spark.plans.health_pipeline import enriched_events
    from health_monitor_cc_flink_spark.sources import patients_df

    events = health_events_df(spark, n_ticks=40, interval_s=0.5, seed=7)
    decoded = decode_avro_values(_framed_records(spark, events.collect()), VALUE_SCHEMA, decoder="python")

    s3 = enriched_events(decoded, patients_df(spark))
    assert s3.count() > 0
    agg = decoded.groupBy("patient_id").agg(F.sum("vitals.heart_rate").alias("hr"))
    assert len(agg.collect()) == 10
    for df in (s3, agg):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInArrow", "MapInPandas", "PythonUDF"):
            assert node not in plan, plan
        assert "ExistingRDD" in plan, plan

    assert decoded.exceptAll(events).count() == 0
    assert events.exceptAll(decoded).count() == 0

    path = str(tmp_path / "records")
    _framed_records(spark, events.limit(5).collect()).write.parquet(path)
    streamed = decode_avro_values(spark.readStream.schema(KAFKA_SHAPE).parquet(path), VALUE_SCHEMA, decoder="python")
    assert streamed.isStreaming
    assert "MapInArrow" in streamed._jdf.queryExecution().logical().toString()


def test_batch_decode_checkpoint_is_released(spark):
    """The stored rows of a batch decode live only as long as the frame:
    after three decode-and-count cycles the frames are dropped, and once
    both garbage collectors have run the ContextCleaner frees every
    stored block, back to the count from before the cycles."""
    import gc
    import time

    rows = health_events_df(spark, n_ticks=20, interval_s=0.5, seed=7).collect()

    def stored():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = len(stored())
    frames = []
    for _ in range(3):
        decoded = decode_avro_values(_framed_records(spark, rows), VALUE_SCHEMA, decoder="python")
        assert decoded.count() == len(rows)
        frames.append(decoded)
    # the checkpointed RDD each frame scans holds the stored blocks
    ids = {f._jdf.queryExecution().analyzed().rdd().id() for f in frames}
    assert len(ids) == 3 and ids <= stored()
    del frames, decoded

    deadline = time.monotonic() + 30
    while (ids & stored() or len(stored()) > before) and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.java.lang.System.gc()
        time.sleep(0.5)
    assert not ids & stored()
    assert len(stored()) <= before


def test_batch_decode_truncated_payload_fails_the_job(spark):
    """decode_record's ValueError contract holds at frame level: a cut
    payload in a batch decode fails the action with the codec's message."""
    payload = encode_record(SCHEMA_JSON, SAMPLE)
    records = spark.createDataFrame(
        [(bytearray(confluent_frame(payload[:-2], 7)), dt.datetime(2026, 1, 1))], KAFKA_SHAPE
    )
    with pytest.raises(Exception, match="avro record truncated"):
        decode_avro_values(records, VALUE_SCHEMA, decoder="python").count()


def test_batch_decode_rejects_bad_wire_format_magic(spark):
    """The wire-format strip checks the magic byte: a valid event framed
    with magic 0x01 fails the decode, naming the bad magic, instead of
    decoding bytes 6.. as an event."""
    framed = b"\x01" + confluent_frame(encode_record(SCHEMA_JSON, SAMPLE), 7)[1:]
    records = spark.createDataFrame([(bytearray(framed), dt.datetime(2026, 1, 1))], KAFKA_SHAPE)
    with pytest.raises(Exception, match="bad Confluent wire-format magic: 0x01"):
        decode_avro_values(records, VALUE_SCHEMA, decoder="python").collect()


# ---------------------------------------------------------------------------
# read_kafka_avro_stream option/offset handling via the DataSource API
# (the piece the recorded-bytes path above cannot reach: no broker in the
# sandbox, so a Python DataSource reproduces the Kafka source contract —
# record schema, subscribe, startingOffsets semantics — and the REAL
# source function runs against it end-to-end)
# ---------------------------------------------------------------------------

import pytest


def _record_topic(spark, tmp_path, n_ticks=40):
    """Record simulator events as a 3-partition framed-Avro topic parquet
    (the reference's topic shape, main.tf:170-185): round-robin partition
    assignment, per-partition sequential offsets, record timestamp =
    event_time."""
    events = health_events_df(spark, n_ticks=n_ticks, interval_s=0.5, seed=7)
    rows = sorted(events.collect(), key=lambda r: (r.event_time, r.event_id))
    recs, next_off = [], {0: 0, 1: 0, 2: 0}
    for i, r in enumerate(rows):
        p = i % 3
        recs.append(
            {
                "partition": p,
                "offset": next_off[p],
                "key": str(r.patient_id).encode(),
                "value": bytearray(
                    confluent_frame(encode_record(SCHEMA_JSON, _row_to_record(r)), 7)
                ),
                # naive-datetime → epoch µs WITHOUT .timestamp() (which
                # applies the host OS timezone); event_time is UTC-naive
                "timestamp_us": (r.event_time - dt.datetime(1970, 1, 1))
                // dt.timedelta(microseconds=1),
            }
        )
        next_off[p] += 1
    path = str(tmp_path / "topic.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(recs), path)
    return path, rows, recs


def _drain(df, name):
    (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(name).collect()


@pytest.fixture()
def kafka_sim(spark):
    from health_monitor_cc_flink_spark.sources import kafka_sim as ks

    ks.register(spark)
    return ks


def test_kafka_source_earliest_drains_everything(spark, tmp_path, kafka_sim):
    """startingOffsets='earliest' through read_kafka_avro_stream must
    deliver every recorded record across all 3 partitions, decoded, with
    event_time = the Kafka record timestamp."""
    from health_monitor_cc_flink_spark.sources.kafka import read_kafka_avro_stream

    path, rows, _ = _record_topic(spark, tmp_path)
    stream = read_kafka_avro_stream(
        spark,
        "sim-broker:9092",
        "events",
        VALUE_SCHEMA,
        starting_offsets="earliest",
        decoder="python",
        source_format="kafka_sim",
        extra_options={"path": path},
    )
    got = _drain(stream, "kafka_sim_earliest")
    assert len(got) == len(rows)
    by_id = {r.event_id: r for r in got}
    for r in rows:
        g = by_id[r.event_id]
        assert g.event_time == r.event_time  # $rowtime = record timestamp
        assert g.patient_id == r.patient_id
        assert g.vitals.heart_rate == r.vitals.heart_rate


def test_kafka_source_latest_positions_at_log_end(spark, tmp_path, kafka_sim):
    """The function's default startingOffsets='latest' must position past
    the recorded log: an availableNow drain sees zero records."""
    from health_monitor_cc_flink_spark.sources.kafka import read_kafka_avro_stream

    path, _, _ = _record_topic(spark, tmp_path)
    stream = read_kafka_avro_stream(
        spark,
        "sim-broker:9092",
        "events",
        VALUE_SCHEMA,
        decoder="python",
        source_format="kafka_sim",
        extra_options={"path": path},
    )
    assert _drain(stream, "kafka_sim_latest") == []


def test_kafka_source_per_partition_json_offsets(spark, tmp_path, kafka_sim):
    """Kafka's per-partition JSON form with all three offset kinds: a
    concrete resume offset on partition 0, -2 (earliest) on partition 1,
    -1 (latest) on partition 2 — exactly the records at/after each
    partition's resolved start are delivered."""
    from health_monitor_cc_flink_spark.sources.kafka import read_kafka_avro_stream

    path, _, recs = _record_topic(spark, tmp_path)
    resume_at = 5
    stream = read_kafka_avro_stream(
        spark,
        "sim-broker:9092",
        "events",
        VALUE_SCHEMA,
        starting_offsets='{"events": {"0": %d, "1": -2, "2": -1}}' % resume_at,
        decoder="python",
        source_format="kafka_sim",
        extra_options={"path": path},
    )
    got = _drain(stream, "kafka_sim_json")
    expected = [
        r
        for r in recs
        if (r["partition"] == 0 and r["offset"] >= resume_at) or r["partition"] == 1
    ]
    assert len(got) == len(expected)
    expected_ids = {
        decode_record(SCHEMA_JSON, strip_confluent_frame(bytes(r["value"]))[1])["event_id"]
        for r in expected
    }
    assert {r.event_id for r in got} == expected_ids


def test_kafka_source_checkpoint_resume(spark, tmp_path, kafka_sim):
    """Offset-commit semantics: a second availableNow run against the
    SAME checkpoint resumes from the committed offsets and re-emits
    nothing; appending new records to the topic and running again emits
    exactly the delta.  This is the exactly-once contract consumers rely
    on across restarts of the real Kafka source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from health_monitor_cc_flink_spark.sources.kafka import read_kafka_avro_stream

    path, rows, recs = _record_topic(spark, tmp_path, n_ticks=8)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = read_kafka_avro_stream(
            spark,
            "sim-broker:9092",
            "events",
            VALUE_SCHEMA,
            starting_offsets="earliest",
            decoder="python",
            source_format="kafka_sim",
            extra_options={"path": path},
        )
        (
            stream.selectExpr("event_id", "patient_id", "CAST(event_time AS STRING) AS et")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.read.parquet(out_dir).count()

    assert run_once() == len(rows)
    assert run_once() == len(rows)  # resume: nothing re-emitted

    # append 3 more records to partition 0 of the recorded topic
    extra = []
    last_off = max(r["offset"] for r in recs if r["partition"] == 0)
    for j in range(3):
        src = dict(recs[j])
        src["partition"], src["offset"] = 0, last_off + 1 + j
        extra.append(src)
    pq.write_table(pa.Table.from_pylist(recs + extra), path)
    assert run_once() == len(rows) + 3  # exactly the delta


def test_registry_kafka_roundtrip_matches_batch(spark, sf_smoke_dir):
    """The registry's O1 end-to-end query (encode → topic → source →
    decode → agg) must reproduce the same per-patient aggregates computed
    directly from the typed fixture — the whole Kafka path is a no-op
    w.r.t. values."""
    from pyspark.sql import functions as SF

    from health_monitor_cc_flink_spark.registry import all_queries

    spec = next(s for s in all_queries() if s.name == "source_kafka_avro_roundtrip")
    got = {
        (r.patient_id, r.n_events, r.hr_sum, r.first_event_us, r.last_event_us)
        for r in spec.fn(spark, sf_smoke_dir).collect()
    }
    batch = {
        (r.patient_id, r.n_events, r.hr_sum, r.first_event_us, r.last_event_us)
        for r in health_events_df(spark, n_ticks=60, interval_s=0.5, seed=7)
        .groupBy("patient_id")
        .agg(
            SF.count(SF.lit(1)).alias("n_events"),
            SF.sum(SF.col("vitals.heart_rate").cast("long")).alias("hr_sum"),
            SF.min(SF.unix_micros("event_time")).alias("first_event_us"),
            SF.max(SF.unix_micros("event_time")).alias("last_event_us"),
        )
        .collect()
    }
    assert got == batch and len(got) == 10


def test_kafka_source_requires_bootstrap_servers(spark, tmp_path, kafka_sim):
    """Option validation: the source rejects a missing/empty
    kafka.bootstrap.servers, as the real Kafka source does."""
    from health_monitor_cc_flink_spark.sources.kafka import read_kafka_avro_stream

    path, _, _ = _record_topic(spark, tmp_path, n_ticks=4)
    stream = read_kafka_avro_stream(
        spark,
        "",
        "events",
        VALUE_SCHEMA,
        starting_offsets="earliest",
        decoder="python",
        source_format="kafka_sim",
        extra_options={"path": path},
    )
    with pytest.raises(Exception, match="bootstrap"):
        _drain(stream, "kafka_sim_nobootstrap")


# ---------------------------------------------------------------------------
# property-based codec fuzzing (pure Python — no SparkSession needed)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    import io
    import json
    import math
    import struct as _struct

    from health_monitor_cc_flink_spark.sources.avro_codec import _decode

    _FUZZ_SCHEMA = json.dumps(
        {
            "type": "record",
            "name": "Fuzz",
            "fields": [
                {"name": "s", "type": "string"},
                {"name": "i", "type": "int"},
                {"name": "l", "type": "long"},
                {"name": "f", "type": "float"},
                {"name": "d", "type": "double"},
                {"name": "b", "type": "boolean"},
                {
                    "name": "nested",
                    "type": {
                        "type": "record",
                        "name": "Inner",
                        "fields": [
                            {"name": "x", "type": "long"},
                            {"name": "y", "type": "string"},
                        ],
                    },
                },
            ],
        }
    )

    @given(
        s=st.text(max_size=200),
        i=st.integers(min_value=-(2**31), max_value=2**31 - 1),
        l=st.integers(min_value=-(2**63), max_value=2**63 - 1),
        f=st.floats(width=32, allow_nan=False),
        d=st.floats(allow_nan=False),
        b=st.booleans(),
        x=st.integers(min_value=-(2**63), max_value=2**63 - 1),
        y=st.text(max_size=50),
    )
    @settings(max_examples=300, deadline=None)
    def test_codec_roundtrip_property(s, i, l, f, d, b, x, y):
        """encode→decode is the identity for every value in the type
        domain, including extreme zigzag varints (±2^63) and float32
        denormals, and the schema-interpreting ``_decode`` returns the
        same dict; NaN excluded (NaN != NaN breaks equality, not codec)."""
        rec = {"s": s, "i": i, "l": l, "f": f, "d": d, "b": b, "nested": {"x": x, "y": y}}
        blob = encode_record(_FUZZ_SCHEMA, rec)
        out = decode_record(_FUZZ_SCHEMA, blob)
        # the compiled decoder and the interpreter agree value for value
        assert _decode(json.loads(_FUZZ_SCHEMA), io.BytesIO(blob), {}) == out
        # float32 round-trips through its 4-byte representation
        expect_f = _struct.unpack("<f", _struct.pack("<f", f))[0]
        assert out["s"] == s and out["i"] == i and out["l"] == l
        assert out["b"] == b and out["nested"] == {"x": x, "y": y}
        assert out["d"] == d or (math.isinf(d) and out["d"] == d)
        assert out["f"] == expect_f
