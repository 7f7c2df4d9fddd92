"""Kafka + Avro stream source (O1; reference main.tf:170-185, schema.tf:4-151).

The reference's `events` table is a 3-partition Kafka topic with a
Schema-Registry Avro value schema, and `$rowtime` = the Kafka record
timestamp (flink_statements.tf:119,181).  The Spark-native equivalent is
`readStream.format("kafka")` + `from_avro` on the value bytes, with the
Kafka `timestamp` metadata column surfaced as ``event_time``.

Notes:
- The reference topic's values are Schema-Registry framed: Confluent's
  wire format prefixes each Avro payload with a 5-byte magic +
  schema-id header, which the decode strips before `from_avro`.
- `from_avro` ships in the external spark-avro package; this module
  degrades to a clear error if the JVM class is absent so the rest of
  the engine stays importable in minimal test environments.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def avro_schema_json(schema: StructType, name: str = "Event") -> str:
    """Render a StructType as an Avro record schema JSON (value schema)."""

    def field_type(dt, path=name):
        from pyspark.sql import types as T

        if isinstance(dt, T.StructType):
            return {
                "type": "record",
                "name": path,
                "fields": [
                    {"name": f.name, "type": field_type(f.dataType, f"{path}_{f.name}")}
                    for f in dt.fields
                ],
            }
        mapping = {
            T.StringType(): "string",
            T.IntegerType(): "int",
            T.LongType(): "long",
            T.FloatType(): "float",
            T.DoubleType(): "double",
            T.BooleanType(): "boolean",
        }
        for k, v in mapping.items():
            if dt == k:
                return v
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        raise TypeError(f"no Avro mapping for {dt}")

    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                {"name": f.name, "type": field_type(f.dataType, f"{name}_{f.name}")}
                for f in schema.fields
            ],
        }
    )


def decode_avro_values(
    records: DataFrame,
    value_schema: StructType,
    decoder: str = "jvm",
) -> DataFrame:
    """Kafka-record-shaped DataFrame (``value`` binary + ``timestamp``) →
    typed columns + ``event_time``.

    This is the decode stage of the O1 source, split out so it can be
    exercised on recorded Avro-framed bytes without a broker.  The
    Confluent wire-format strip (magic 0x00 + 4-byte schema id) happens
    as a Catalyst expression either way, and it checks the magic byte:
    a non-null value whose first byte is not 0x00 fails the query with
    "bad Confluent wire-format magic: 0x..", as
    `avro_codec.strip_confluent_frame` does, instead of decoding bytes
    6.. as an event.

    decoder="jvm"     → spark-avro `from_avro` (vectorized; production).
    decoder="python"  → `mapInArrow` over the schema-compiled decoder
                        (`sources.avro_codec.decode_record`), compiled
                        once and cached per Python worker process; each
                        Arrow batch's payloads decode straight into one
                        Arrow array per value field.  Callers choose it
                        on clusters without the spark-avro module; the
                        integration tests and the benchmark use it.

    On a batch input the python decoder's result is a lazy local
    checkpoint: the first action decodes the topic once and stores the
    rows, and every later action on the frame reads the stored rows, so
    S3 and S4 share one decode.  The blocks are freed by the
    ContextCleaner once the frame is garbage collected (nothing enters
    the CacheManager), and like any local checkpoint they are not
    recomputed if an executor is lost.  Streaming inputs are returned
    uncheckpointed, as is the jvm decoder's plan.
    """
    schema_json = avro_schema_json(value_schema)
    # strip magic byte (1) + schema id (4) of the SR wire format; a
    # wrong magic raises (a NULL value stays NULL)
    value = F.expr(
        "CASE WHEN substring(value, 1, 1) <> X'00' THEN raise_error(concat("
        "'bad Confluent wire-format magic: 0x', hex(substring(value, 1, 1))))"
        " ELSE substring(value, 6, length(value) - 5) END"
    )

    if decoder == "jvm":
        try:
            from pyspark.sql.avro.functions import from_avro
        except ImportError as exc:  # pragma: no cover
            raise RuntimeError(
                "spark-avro is not on the classpath; add the "
                "org.apache.spark:spark-avro package or use decoder='python'"
            ) from exc

        decoded = records.select(
            F.col("timestamp").alias("event_time"),
            from_avro(value, schema_json).alias("v"),
        )
        return decoded.select("event_time", "v.*")

    if decoder != "python":
        raise ValueError(f"decoder must be 'jvm' or 'python', got {decoder!r}")

    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from .avro_codec import decode_record

    stripped = records.select(F.col("timestamp").alias("event_time"), value.alias("payload"))
    out_schema = T.StructType(
        [T.StructField("event_time", T.TimestampType())] + list(value_schema.fields)
    )
    arrow_schema = to_arrow_schema(out_schema)
    value_fields = [(f.name, arrow_schema.field(f.name).type) for f in value_schema.fields]

    def batches(it):
        # timestamp-micros stay int µs from the codec into timestamp[us]:
        # exact over the whole Avro range, no datetime round trip
        for rb in it:
            recs = [decode_record(schema_json, b) for b in rb.column("payload").to_pylist()]
            cols = [pa.array([r[name] for r in recs], type=typ) for name, typ in value_fields]
            yield pa.RecordBatch.from_arrays(
                [rb.column("event_time").cast(arrow_schema.field("event_time").type)] + cols,
                schema=arrow_schema,
            )

    decoded = stripped.mapInArrow(batches, schema=out_schema)
    return decoded if decoded.isStreaming else decoded.localCheckpoint(eager=False)


def read_kafka_avro_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: StructType,
    starting_offsets: str = "latest",
    decoder: str = "jvm",
    source_format: str = "kafka",
    extra_options: dict | None = None,
) -> DataFrame:
    """`events`-style source: Kafka topic → typed columns + event_time.

    Returns a streaming DataFrame with the value schema's columns at the
    top level plus ``event_time`` (Kafka record timestamp = `$rowtime`).

    ``source_format`` defaults to the real Kafka source; tests inject
    ``"kafka_sim"`` (sources/kafka_sim.py — same record schema and
    startingOffsets semantics, replaying a recorded topic) so this
    function's option plumbing and the downstream decode execute end-to-
    end in broker-less environments.  ``extra_options`` passes source-
    specific options (e.g. the sim's recorded-topic ``path``).
    """
    reader = (
        spark.readStream.format(source_format)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load()
    return decode_avro_values(raw, value_schema, decoder=decoder)
