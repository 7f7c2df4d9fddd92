"""The four-stage health-monitoring pipeline (reference S3..S6), batch form.

Topology (SURVEY.md §0.1) — quirks preserved deliberately (§2.12):

- S4 reads the **raw** events table, not S3's output: the enrichment
  branch is a dead end (reference flink_statements.tf:181 reads
  `TABLE events` despite depends_on S3).  Patient name/age never reach
  the alert path.
- Anomalies are **dropped**, not alerted on: S5 keeps
  `report.is_anomaly = FALSE` (flink_statements.tf:257) — detection is a
  cleaning step; alerting is driven by the forecast on the cleaned
  series (S6, threshold `forecast_value < 40`, flink_statements.tf:333).
- Enrichment is an **inner** join: unknown patient_id rows silently drop
  (empty KEY_SEARCH_AGG match array × CROSS JOIN UNNEST,
  flink_statements.tf:124-131).
- `event_timestamp` is Flink's `window_time` = window_end − 1 ms
  (flink_statements.tf:176; SURVEY.md §2.12.5).

Scale notes: the patients dimension is broadcast (no shuffle on the fat
stream side); the 1 s tumble is a partial-aggregated hash agg; the two ML
stages shuffle once each on patient_id — the minimum any engine needs
for a per-key ordered frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.timeseries import ml_detect_anomalies, ml_forecast

#: S4's smoothing tumble (flink_statements.tf:181)
WINDOW = "1 second"
#: bradycardia alert threshold, bpm (flink_statements.tf:333)
ALERT_THRESHOLD = 40.0


def enriched_events(events: DataFrame, patients: DataFrame) -> DataFrame:
    """S3 (flink_statements.tf:115-132): per-event lookup-join against the
    patients dimension; `$rowtime AS event_time`, `v.*`, name, age.

    The reference expresses this as KEY_SEARCH_AGG + UNNEST; the net
    semantics are an inner equi-join, which Spark executes as a
    broadcast hash join (explicit `F.broadcast` — correct for any
    dimension that fits an executor, and at 100 TB stream scale this is
    the only join shape that avoids shuffling the stream).
    """
    ev = events.alias("v")
    return ev.join(F.broadcast(patients.alias("p")), on="patient_id", how="inner").select(
        F.col("v.event_time").alias("event_time"),
        F.col("v.event_id").alias("event_id"),
        F.col("patient_id"),
        F.col("v.device_metadata").alias("device_metadata"),
        F.col("v.vitals").alias("vitals"),
        F.col("p.name").alias("name"),
        F.col("p.age").alias("age"),
    )


def windowed_vitals(events: DataFrame) -> DataFrame:
    """S4's first CTE (flink_statements.tf:174-183): 1 s tumbling average
    heart rate per patient; emits `event_timestamp` = window_time.  On a
    stream the caller sets the watermark (append mode emits each window
    once the watermark closes it)."""
    return (
        events.groupBy(F.window("event_time", WINDOW).alias("w"), "patient_id")
        .agg(F.avg("vitals.heart_rate").alias("avg_heart_rate"))
        .select(
            "patient_id",
            (F.col("w.end") - F.expr("INTERVAL 1 MILLISECOND")).alias("event_timestamp"),
            F.col("avg_heart_rate").alias("observed_value"),
        )
    )


def enriched_events_flagged(events: DataFrame) -> DataFrame:
    """S4 (flink_statements.tf:171-212): windowed smoothing +
    ML_DETECT_ANOMALIES over the cumulative per-patient frame."""
    return ml_detect_anomalies(
        windowed_vitals(events),
        value_col="observed_value",
        ts_col="event_timestamp",
        key_cols=["patient_id"],
        output_col="report",
    )


def filtered_enriched_events(flagged: DataFrame) -> DataFrame:
    """S5 (flink_statements.tf:251-258): drop anomalous readings."""
    return flagged.filter(F.col("report.is_anomaly") == F.lit(False))


def heartbeat_alerts(filtered: DataFrame) -> DataFrame:
    """S6 (flink_statements.tf:297-334): ML_FORECAST on the cleaned
    series, UNNEST the forecast array, alert where forecast < 40 bpm."""
    fc = ml_forecast(
        filtered.select("patient_id", "event_timestamp", "observed_value"),
        value_col="observed_value",
        ts_col="event_timestamp",
        key_cols=["patient_id"],
        output_col="forecast_values",
    )
    exploded = fc.select(
        "patient_id",
        "event_timestamp",
        F.col("observed_value").alias("current_value"),
        F.explode("forecast_values").alias("f"),  # inner-unnest: empty arrays drop
    )
    return exploded.select(
        "patient_id",
        "event_timestamp",
        "current_value",
        F.col("f.forecast_value").alias("forecast_value"),
        F.col("f.lower_bound").alias("lower_bound"),
        F.col("f.upper_bound").alias("upper_bound"),
    ).filter(F.col("forecast_value") < F.lit(ALERT_THRESHOLD))


def run_pipeline(
    events: DataFrame,
    patients: DataFrame,
    catalog=None,
    materialize: bool = False,
) -> dict[str, DataFrame]:
    """Run all four stages; returns every stage's frame by its reference
    name.  With a catalog, each stage is registered under its name
    (faithful per-stage topology, SURVEY.md §7.5); `materialize=True`
    additionally checkpoints each stage like the reference's per-stage
    Kafka topics."""
    # each stage is registered AS IT IS BUILT and the next stage derives
    # from the registered (possibly checkpointed) frame: registering the
    # whole chain afterwards would leave every downstream plan pointing
    # at the un-materialized upstream, so materialize=True re-executed
    # the window+ML pass once per downstream stage instead of reading
    # the previous stage's materialization
    if materialize and catalog is None:
        raise ValueError(
            "materialize=True requires a catalog: without one the stages "
            "stay lazy and forcing each returned frame re-executes the "
            "window+ML pass per stage (the exact re-execution this flag "
            "exists to prevent)"
        )

    def stage(name: str, df: DataFrame) -> DataFrame:
        if catalog is not None:
            df = catalog.create_table_as(name, df, materialize=materialize)
        return df

    stages: dict[str, DataFrame] = {}
    stages["enriched_events"] = stage(
        "enriched_events", enriched_events(events, patients)
    )  # dead-end branch
    stages["enriched_events_flagged"] = stage(
        "enriched_events_flagged", enriched_events_flagged(events)
    )
    stages["filtered_enriched_events"] = stage(
        "filtered_enriched_events",
        filtered_enriched_events(stages["enriched_events_flagged"]),
    )
    stages["heartbeat_alerts"] = stage(
        "heartbeat_alerts", heartbeat_alerts(stages["filtered_enriched_events"])
    )
    return stages
