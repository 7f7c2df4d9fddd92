"""Streaming assembly of the health pipeline (SURVEY.md M5): the
batch stage builders of plans/health_pipeline.py run as chained
append-mode streaming queries over a file or Kafka stream source, with
per-stage parquet sinks mirroring the reference's per-topic topology
(O27, §7.5).

S3 is `enriched_events` itself: the broadcast join re-reads the static
patients side per micro-batch (O32).  S4's window is `windowed_vitals`
over the watermarked events.  Detection and forecast run as the
stateful operators of streaming/stateful.py, which carry each key's
AR(1) sums across micro-batches where the batch ML operators need the
whole history in one frame; S5's filter and S6's threshold apply to
their outputs.

All stages are append-mode (the reference workload is append-only
everywhere — SURVEY.md §1.3), so results match the batch plans on the
windows the final watermark closed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.health_pipeline import ALERT_THRESHOLD, enriched_events, windowed_vitals
from .stateful import streaming_detect_anomalies, streaming_forecast
from .watermark import with_default_watermark


class PipelineRun(dict):
    """``{stage_name: output_path}`` plus ``.queries`` — the live
    ``StreamingQuery`` handle per stage.  In continuous mode the caller
    needs them to await, stop, or read ``.exception()`` from each stage
    (discarding them would make stage failures undetectable); after an
    ``availableNow`` drain they are terminated handles kept for status."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.queries: dict = {}


def run_streaming_pipeline(
    spark: SparkSession,
    events_path: str | None,
    schema,
    patients: DataFrame,
    out_dir: str | None = None,
    available_now: bool = True,
    events_stream: DataFrame | None = None,
) -> PipelineRun:
    """Run the 4-stage pipeline as chained streaming queries with
    per-stage parquet sinks (faithful topology: each stage's output is a
    named, independently-readable table, like the reference's per-stage
    Kafka topics).  With ``available_now`` the run drains the source and
    terminates — the batch≡streaming test harness.

    Returns a ``PipelineRun``: ``{stage_name: output_path}`` whose
    ``.queries`` maps stage name → its ``StreamingQuery`` (live in
    continuous mode — await/stop/inspect failures through these).
    """
    out_dir = out_dir or tempfile.mkdtemp(prefix="hm_stream_")
    paths = PipelineRun()

    def sink(df: DataFrame, name: str) -> str:
        path = os.path.join(out_dir, name)
        # pre-create the sink dir: in continuous mode the next stage's
        # file-stream source starts against it before the first
        # micro-batch commits, and an empty dir + explicit schema is
        # valid where a missing path is not
        os.makedirs(path, exist_ok=True)
        q = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", path)
            .option("checkpointLocation", os.path.join(out_dir, f"_ckpt_{name}"))
        )
        q = q.trigger(availableNow=True) if available_now else q.trigger(processingTime="1 second")
        sq = q.start()
        if available_now:
            sq.awaitTermination()
        paths.queries[name] = sq
        paths[name] = path
        return path

    events = (
        events_stream
        if events_stream is not None
        else spark.readStream.schema(schema).parquet(events_path)
    )

    # stage 1: enrichment (dead-end branch, reference §2.12.1)
    sink(enriched_events(events, patients), "enriched_events")

    # stage 2a: windowed smoothing.  Spark rejects applyInPandasWithState
    # in append mode after an aggregation, so the smoothing aggregation
    # and the applyInPandasWithState anomaly detector run as separate jobs
    # wired through a materialized table, as in the reference's
    # statement-per-topic topology (each Flink statement is its own job;
    # SURVEY.md O27).  transformWithStateInPandas may follow the window
    # aggregation in one query; that is the route to fusing S4-S6.
    smoothed = windowed_vitals(with_default_watermark(events))
    sink(smoothed, "windowed_vitals")

    # stage 2b: stateful anomaly detection over the re-sourced stream.
    # Schemas of the re-sourced stages come from the upstream streaming
    # DataFrames (statically known), NOT from reading the materialized
    # parquet — in continuous mode that directory has no committed files
    # yet when this line runs.
    smoothed_src = spark.readStream.schema(smoothed.schema).parquet(
        paths["windowed_vitals"]
    )
    flagged = streaming_detect_anomalies(
        with_default_watermark(smoothed_src, "event_timestamp"),
        value_col="observed_value",
        ts_col="event_timestamp",
        key_col="patient_id",
    )
    sink(flagged, "enriched_events_flagged")

    # stage 3: anomaly filter (drop direction, reference §2.12.2) over the
    # materialized stage-2 output — re-sourced as a fresh stream
    flagged_src = spark.readStream.schema(flagged.schema).parquet(
        paths["enriched_events_flagged"]
    )
    filtered = flagged_src.filter(F.col("is_anomaly") == F.lit(False))
    sink(filtered, "filtered_enriched_events")

    # stage 4: stateful forecast + threshold alerts
    filtered_src = spark.readStream.schema(filtered.schema).parquet(
        paths["filtered_enriched_events"]
    )
    fc = streaming_forecast(
        with_default_watermark(filtered_src, "event_timestamp"),
        value_col="observed_value",
        ts_col="event_timestamp",
        key_col="key",
    )
    alerts = fc.filter(F.col("forecast_value") < ALERT_THRESHOLD).select(
        F.col("key").alias("patient_id"),
        "event_timestamp",
        "current_value",
        "forecast_value",
        "lower_bound",
        "upper_bound",
    )
    sink(alerts, "heartbeat_alerts")
    return paths
