"""The health pipeline as SQL text — the reference's native surface.

The reference deploys five SQL statements (S1/S2 are connection/table
DDL handled by the catalog; S3-S6 are the dataflow,
flink_statements.tf:97-350).  This module runs the same dataflow as
Spark SQL statements over registered views, with the ML OVER-aggregates
expressed as table functions (functions/sql_udtf.py):

    S3  enriched_events           join + projection            (spark.sql)
    S4  enriched_events_flagged   1 s tumble + ML_DETECT_ANOMALIES(TABLE ...)
    S5  filtered_enriched_events  WHERE NOT is_anomaly
    S6  heartbeat_alerts          ML_FORECAST(TABLE ...) + threshold

Statement texts mirror the reference's CTE structure; `window_time` is
`window.end - INTERVAL 1 MILLISECOND` (SURVEY.md §2.12.5).  The UDTF
path is row-at-a-time Python (the SQL-parity surface); the DataFrame
pipeline in plans/health_pipeline.py is the vectorized fast path — the
two are asserted equal in tests/test_sql_pipeline.py.

Every view name carries a per-run prefix ``{p}``: temp views are
SESSION-GLOBAL, and unprefixed ``CREATE OR REPLACE TEMPORARY VIEW
events`` would silently clobber an identically-named view another
component registered on the shared session (e.g. the driver testdata
``events`` view from sources.testdata.register_testdata).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from ..functions.sql_udtf import register_sql_ml_functions
from ..functions.timeseries import CONFIDENCE_PERCENTAGE, HORIZON, MIN_TRAINING_SIZE
from .health_pipeline import ALERT_THRESHOLD, WINDOW

S3_ENRICHED_EVENTS = """
CREATE OR REPLACE TEMPORARY VIEW {p}enriched_events AS
SELECT v.event_time AS event_time,
       v.event_id,
       v.patient_id,
       v.device_metadata,
       v.vitals,
       p.name,
       p.age
FROM {p}events v
JOIN {p}patients p ON v.patient_id = p.patient_id
"""

S4_WINDOWED_VITALS = """
CREATE OR REPLACE TEMPORARY VIEW {p}windowed_vitals AS
SELECT patient_id,
       window.end - INTERVAL 1 MILLISECOND AS event_timestamp,
       avg(vitals.heart_rate) AS observed_value
FROM (SELECT *, window(event_time, '{window}') AS window FROM {p}events)
GROUP BY patient_id, window
"""

S4_FLAGGED = """
CREATE OR REPLACE TEMPORARY VIEW {p}enriched_events_flagged AS
SELECT * FROM ml_detect_anomalies(
    TABLE({p}windowed_vitals) PARTITION BY patient_id ORDER BY (event_timestamp),
    {min_training_size}, {confidence}
)
"""

S5_FILTERED = """
CREATE OR REPLACE TEMPORARY VIEW {p}filtered_enriched_events AS
SELECT * FROM {p}enriched_events_flagged WHERE is_anomaly = FALSE
"""

S6_ALERTS = """
CREATE OR REPLACE TEMPORARY VIEW {p}heartbeat_alerts AS
SELECT patient_id,
       event_timestamp,
       current_value,
       forecast_value,
       lower_bound,
       upper_bound
FROM ml_forecast(
    TABLE(SELECT patient_id, event_timestamp, observed_value
          FROM {p}filtered_enriched_events)
    PARTITION BY patient_id ORDER BY (event_timestamp),
    {horizon}, {confidence}
)
WHERE forecast_value < {threshold}
"""


def run_pipeline_sql(
    spark: SparkSession, events: DataFrame, patients: DataFrame
) -> dict[str, DataFrame]:
    """Execute S3..S6 as SQL statements; returns the stage views (keyed
    by the canonical stage names — the backing temp views carry a unique
    per-run prefix so a shared session's own views are never clobbered).
    The statements' literals are the reference's, from the constants the
    DataFrame pipeline uses."""
    register_sql_ml_functions(spark)
    p = f"hmsql_{uuid.uuid4().hex[:8]}_"
    events.createOrReplaceTempView(f"{p}events")
    patients.createOrReplaceTempView(f"{p}patients")
    for statement in (S3_ENRICHED_EVENTS, S4_WINDOWED_VITALS, S4_FLAGGED, S5_FILTERED, S6_ALERTS):
        spark.sql(
            statement.format(
                p=p,
                window=WINDOW,
                min_training_size=MIN_TRAINING_SIZE,
                confidence=CONFIDENCE_PERCENTAGE,
                horizon=HORIZON,
                threshold=ALERT_THRESHOLD,
            )
        )
    return {
        name: spark.table(p + name)
        for name in (
            "enriched_events",
            "enriched_events_flagged",
            "filtered_enriched_events",
            "heartbeat_alerts",
        )
    }
