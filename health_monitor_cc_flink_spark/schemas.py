"""Canonical fixed schemas.

The reference enforces fixed schemas end-to-end (Avro subject
`events-value`, reference schema.tf:4-151; Postgres DDL db.tf:93-97);
there is no schema inference anywhere.  We mirror that: every source
declares an explicit StructType.

``HEALTH_EVENT_SCHEMA`` mirrors the Avro record at schema.tf:8-131
(nested device_metadata / vitals / blood_pressure records), with the
Kafka record timestamp (`$rowtime`, flink_statements.tf:119,181)
represented as an explicit ``event_time`` column.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference domain schemas ------------------------------------------------

BLOOD_PRESSURE_SCHEMA = T.StructType(
    [
        T.StructField("systolic", T.IntegerType()),   # schema.tf:96-105
        T.StructField("diastolic", T.IntegerType()),  # schema.tf:106-116
    ]
)

VITALS_SCHEMA = T.StructType(
    [
        T.StructField("heart_rate", T.IntegerType()),         # schema.tf:73-81
        T.StructField("blood_oxygen_spO2", T.IntegerType()),  # schema.tf:82-90
        T.StructField("blood_pressure", BLOOD_PRESSURE_SCHEMA),  # schema.tf:91-117
        T.StructField("body_temperature_c", T.FloatType()),   # schema.tf:118-126
    ]
)

DEVICE_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("device_type", T.StringType()),    # schema.tf:38-45
        T.StructField("battery_level", T.IntegerType()),  # schema.tf:46-54
        T.StructField("sensor_status", T.StringType()),  # schema.tf:55-64
    ]
)

HEALTH_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType()),  # $rowtime
        T.StructField("event_id", T.StringType()),       # schema.tf:13-21
        T.StructField("patient_id", T.IntegerType()),    # schema.tf:22-30
        T.StructField("device_metadata", DEVICE_METADATA_SCHEMA),
        T.StructField("vitals", VITALS_SCHEMA),
    ]
)

#: patients dimension (flink_statements.tf:66-70; DDL db.tf:93-97)
PATIENTS_SCHEMA = T.StructType(
    [
        T.StructField("patient_id", T.IntegerType(), nullable=False),
        T.StructField("name", T.StringType()),
        T.StructField("age", T.IntegerType()),
    ]
)

#: Canonical 10 seed rows, verbatim from db.tf:104-115.
PATIENTS_ROWS: list[tuple[int, str, int]] = [
    (1, "John Doe", 45),
    (2, "Jane Smith", 32),
    (3, "Michael Brown", 50),
    (4, "Emily Davis", 88),
    (5, "Daniel Wilson", 60),
    (6, "Sarah Johnson", 41),
    (7, "David Miller", 37),
    (8, "Laura Garcia", 69),
    (9, "Robert Miller", 55),
    (10, "Anna Lopez", 34),
]

# --- ML function result shapes (FIXTURES.md A3) ------------------------------

#: ROW result of ml_detect_anomalies; only is_anomaly is consumed by the
#: pipeline (flink_statements.tf:257), the rest are model diagnostics.
ANOMALY_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("is_anomaly", T.BooleanType()),
        T.StructField("expected_value", T.DoubleType()),
        T.StructField("lower_bound", T.DoubleType()),
        T.StructField("upper_bound", T.DoubleType()),
    ]
)

#: Element type of the ARRAY<ROW> result of ml_forecast — the six fields
#: destructured at flink_statements.tf:325-332.
FORECAST_ROW_SCHEMA = T.StructType(
    [
        T.StructField("forecast_timestamp", T.TimestampType()),
        T.StructField("forecast_value", T.DoubleType()),
        T.StructField("lower_bound", T.DoubleType()),
        T.StructField("upper_bound", T.DoubleType()),
        T.StructField("rmse", T.DoubleType()),
        T.StructField("aic", T.DoubleType()),
    ]
)

# --- driver testdata schemas (FIXTURES.md §B) --------------------------------
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
