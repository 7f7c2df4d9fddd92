"""The benchmark's workloads.  Each drives the package only through its
public functions, over files made by ``inputs.py``.

A workload has these steps, called by ``run.py``:

- ``open(spark, input_dir, meta)``  bind the input files (part of set-up)
- ``run_once(work_dir)``            one timed pipeline run
- ``check(raw)``                    untimed output check of that run
- ``reference()``                   untimed, once: the expected outputs
- ``deep_check()``                  the traced run's slower one-time check
- ``trace(tracer, work_dir, outs)`` the traced run's per-layer metrics;
                                    ``outs`` are the outputs of its timed
                                    and traced runs
"""

from __future__ import annotations

import os
import statistics
import uuid
from datetime import datetime

from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.functions.timeseries import ml_detect_anomalies, ml_forecast
from health_monitor_cc_flink_spark.plans import (
    enriched_events,
    filtered_enriched_events,
    heartbeat_alerts,
    run_pipeline,
)
from health_monitor_cc_flink_spark.plans.health_pipeline import ALERT_THRESHOLD, windowed_vitals
from health_monitor_cc_flink_spark.schemas import HEALTH_EVENT_SCHEMA
from health_monitor_cc_flink_spark.sources.kafka import decode_avro_values
from health_monitor_cc_flink_spark.streaming.pipeline import run_streaming_pipeline
from health_monitor_cc_flink_spark.streaming.stateful import streaming_detect_anomalies
from health_monitor_cc_flink_spark.streaming.watermark import with_default_watermark

from inputs import VALUE_SCHEMA
from tracing import plan_nodes

FAULT_PATIENT = 1
#: the streaming stage names, in pipeline order
STREAM_QUERIES = (
    "enriched_events",
    "windowed_vitals",
    "enriched_events_flagged",
    "filtered_enriched_events",
    "heartbeat_alerts",
)
#: queries that read the events source; their micro-batches give microbatch_ms
INPUT_QUERIES = ("enriched_events", "windowed_vitals")
ML_ARGS = dict(value_col="observed_value", ts_col="event_timestamp", key_cols=["patient_id"])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def alert_rows(rows) -> list[tuple]:
    """Alerts as sorted plain tuples, comparable across batch and streaming."""
    return sorted(
        (int(r.patient_id), r.event_timestamp, r.current_value, r.forecast_value,
         r.lower_bound, r.upper_bound)
        for r in rows
    )


def pandas_kernel_alerts(events) -> list[tuple]:
    """S4–S6 with the pandas ML kernels instead of the native window plan:
    the independent reference for the batch alerts."""
    flagged = ml_detect_anomalies(windowed_vitals(events), output_col="report",
                                  implementation="pandas", **ML_ARGS)
    filtered = filtered_enriched_events(flagged).select("patient_id", "event_timestamp", "observed_value")
    fc = ml_forecast(filtered, implementation="pandas", **ML_ARGS)
    rows = (
        fc.select("patient_id", "event_timestamp", F.col("observed_value").alias("current_value"),
                  F.explode("forecast_values").alias("f"))
        .select("patient_id", "event_timestamp", "current_value", "f.forecast_value",
                "f.lower_bound", "f.upper_bound")
        .filter(F.col("forecast_value") < ALERT_THRESHOLD)
    )
    return alert_rows(rows.collect())


class Workload:
    """What both workloads share: the input binding and the expected alerts."""

    def open(self, spark, input_dir: str, meta: dict) -> None:
        self.spark, self.dir, self.meta = spark, input_dir, meta
        self.patients = spark.read.parquet(os.path.join(input_dir, "patients.parquet"))

    def _typed(self):
        return self.spark.read.schema(HEALTH_EVENT_SCHEMA).parquet(os.path.join(self.dir, "events"))

    def reference(self) -> list[str]:
        """The native batch alerts over the typed events, computed by the
        code under test in every run, and checked against the fixture's
        design: only the fault patient alerts."""
        self.expected = alert_rows(run_pipeline(self._typed(), self.patients)["heartbeat_alerts"].collect())
        if not self.expected or {a[0] for a in self.expected} - {FAULT_PATIENT}:
            return ["batch alerts are not exactly the fault patient's"]
        return []


def trace_layers(tr, events, patients, n_events: int) -> dict:
    """Per-layer spans of the batch pipeline.  Each layer's input is cached
    and counted before its span opens, so a span holds that layer's work
    only."""
    m = {}
    ev = events.cache()
    ev.count()
    with tr.span("plans.enriched_events"):
        noop(enriched_events(ev, patients))
    rows = enriched_events(ev, patients).count()
    m["plans.enriched_events.rows_out"] = rows
    m["plans.enriched_events.rows_dropped_unknown"] = n_events - rows

    with tr.span("plans.windowed_vitals"):
        noop(windowed_vitals(ev))
    wv = windowed_vitals(ev).cache()
    m["plans.windowed_vitals.rows_out"] = wv.count()

    with tr.span("functions.ml_detect_anomalies"):
        noop(ml_detect_anomalies(wv, output_col="report", **ML_ARGS))
    flagged = ml_detect_anomalies(wv, output_col="report", **ML_ARGS).cache()
    m["functions.ml_detect_anomalies.anomalies"] = flagged.filter("report.is_anomaly").count()

    filtered = filtered_enriched_events(flagged).cache()
    filtered.count()
    with tr.span("functions.ml_forecast"):
        noop(ml_forecast(filtered.select("patient_id", "event_timestamp", "observed_value"), **ML_ARGS))
    m["plans.heartbeat_alerts.rows_out"] = len(heartbeat_alerts(filtered).collect())
    for df in (filtered, flagged, wv, ev):
        df.unpersist()
    for name in ("plans.enriched_events", "plans.windowed_vitals",
                 "functions.ml_detect_anomalies", "functions.ml_forecast"):
        m[f"{name}.s"] = tr.duration(name)
    return m


def pipeline_shape(tr, events, patients) -> dict:
    """Plan shape and stage metrics of the whole pipeline composed as the
    workload runs it: both forced stages, straight from the source."""
    with tr.span("pipeline"):
        stages = run_pipeline(events, patients)
        stages["enriched_events"].count()
        stages["heartbeat_alerts"].collect()
    nodes = plan_nodes(stages["heartbeat_alerts"])
    sm = tr.stage_metrics("pipeline")
    return {
        "plans.heartbeat_alerts.exchanges": nodes.count("Exchange"),
        "plans.heartbeat_alerts.window_ops": nodes.count("Window"),
        "plans.heartbeat_alerts.sorts": nodes.count("Sort"),
        "plans.heartbeat_alerts.shuffle_write_bytes": sm["shuffle_write_bytes"],
        "plans.heartbeat_alerts.spill_bytes": sm["spill_bytes"],
        # topic reads per pipeline run: Python decode operators in the
        # executed plans of the two stages a run forces
        "sources.kafka.scans_per_run": sum(
            plan_nodes(stages[s]).count("MapInPandas") for s in ("enriched_events", "heartbeat_alerts")
        ),
    }


def stream_metrics(run) -> dict:
    """Per-query numbers from ``PipelineRun.queries[*].recentProgress``."""
    m = {}
    sinks = {os.path.realpath(p) for p in run.values()}
    hops = 0
    for name in STREAM_QUERIES:
        prog = run.queries[name].recentProgress
        ops = [o for p in prog for o in p.stateOperators]
        last = prog[-1].stateOperators if prog else []
        pre = f"streaming.{name}"
        m[f"{pre}.batches"] = len(prog)
        m[f"{pre}.trigger_ms_sum"] = sum(p.durationMs.get("triggerExecution", 0) for p in prog)
        m[f"{pre}.rows_in"] = sum(p.numInputRows for p in prog)
        m[f"{pre}.state_rows"] = sum(o.numRowsTotal for o in last)
        m[f"{pre}.state_bytes"] = sum(o.memoryUsedBytes for o in last)
        m[f"{pre}.rows_dropped_by_watermark"] = sum(o.numRowsDroppedByWatermark for o in ops)
        described = " ".join(s.description for s in prog[0].sources) if prog else ""
        hops += sum(f"file:{p}]" in described for p in sinks)
    m["streaming.queries"] = len(run.queries)
    m["streaming.parquet_hops"] = hops
    return m


def percentile(values, q: int) -> float:
    """The q-th percentile (q in 1..99) as statistics.quantiles gives it."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class KafkaFleet(Workload):
    """Many patients with short histories, ingested as Confluent-framed
    Avro from a recorded 3-partition topic and decoded by the Python
    decoder, then run through the batch pipeline."""

    name = "kafka_fleet"
    size = dict(n_patients=100, n_ticks=300, n_files=1, n_unknown=3, topic=True)

    def open(self, spark, input_dir: str, meta: dict) -> None:
        super().open(spark, input_dir, meta)
        self.known_events = meta["ticks"] * (meta["patients"] - len(meta["unknown_ids"]))

    def _records(self):
        return self.spark.read.parquet(os.path.join(self.dir, "topic")).select(
            "value", F.timestamp_micros("timestamp_us").alias("timestamp")
        )

    def _decoded(self, records=None):
        return decode_avro_values(records if records is not None else self._records(),
                                  VALUE_SCHEMA, decoder="python")

    def run_once(self, work_dir: str):
        stages = run_pipeline(self._decoded(), self.patients)
        return stages["enriched_events"].count(), stages["heartbeat_alerts"].collect()

    def deep_check(self) -> list[str]:
        decoded, typed = self._decoded(), self._typed()
        if decoded.exceptAll(typed).count() or typed.exceptAll(decoded).count():
            return ["decoded topic differs from the fixture"]
        return []

    def check(self, raw) -> list[str]:
        enriched, alerts = raw
        problems = []
        if enriched != self.known_events:
            problems.append(f"enriched_events has {enriched} rows, expected {self.known_events}")
        if alert_rows(alerts) != self.expected:
            problems.append("alerts differ from the batch pipeline over the typed fixture")
        return problems

    def trace(self, tr, work_dir: str, outs) -> dict:
        records = self._records().cache()
        n = records.count()
        with tr.span("sources.kafka.decode"):
            noop(self._decoded(records))
        m = trace_layers(tr, self._decoded(records), self.patients, n)
        records.unpersist()
        decode_s = tr.duration("sources.kafka.decode")
        m["sources.kafka.decode_s"] = decode_s
        m["sources.kafka.records_per_s"] = n / decode_s
        m.update(pipeline_shape(tr, self._decoded(), self.patients))
        return m


class StreamReplay(Workload):
    """Few patients with long histories, replayed from event-time-ordered
    files through the five chained streaming queries, one file per
    micro-batch."""

    name = "stream_replay"
    #: the detector drain reads the windowed vitals in 8 slices of 75
    #: windows per patient, so the 512-point ring buffer fills in the 7th
    size = dict(n_patients=10, n_ticks=1200, n_files=2, n_unknown=0, topic=False, detect_files=8)

    def run_once(self, work_dir: str):
        stream = (
            self.spark.readStream.schema(HEALTH_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.dir, "events"))
        )
        out = os.path.join(work_dir, f"stream-{uuid.uuid4().hex[:8]}")
        return run_streaming_pipeline(self.spark, None, HEALTH_EVENT_SCHEMA, self.patients,
                                      out_dir=out, events_stream=stream)

    def deep_check(self) -> list[str]:
        if self.expected != pandas_kernel_alerts(self._typed()):
            return ["native batch alerts differ from the pandas ML kernels"]
        return []

    def check(self, run) -> list[str]:
        problems = [f"query {n} failed: {q.exception()}" for n, q in run.queries.items() if q.exception()]
        # a window is closed once its end is at or below the final watermark
        # of the windowing query; its event_timestamp is end - 1 ms
        wm = run.queries["windowed_vitals"].recentProgress[-1].eventTime["watermark"]
        cutoff = datetime.fromisoformat(wm.replace("Z", "+00:00")).astimezone().replace(tzinfo=None)
        alerts = alert_rows(self.spark.read.parquet(run["heartbeat_alerts"]).collect())
        if alerts != [a for a in self.expected if a[1] < cutoff]:
            problems.append("streaming alerts differ from the batch alerts on the closed windows")
        return problems

    def trace(self, tr, work_dir: str, outs) -> dict:
        m = stream_metrics(outs[-1])
        ms = [p.durationMs.get("triggerExecution", 0)
              for run in outs for name in INPUT_QUERIES for p in run.queries[name].recentProgress]
        m["streaming.microbatch_ms_p50"] = percentile(ms, 50)
        m["streaming.microbatch_ms_p90"] = percentile(ms, 90)
        m.update(self._detector_drain(work_dir))
        # the batch layers in this workload's regime: few keys, long histories
        typed = self._typed()
        m.update(trace_layers(tr, typed, self.patients, self.meta["events"]))
        m.update(pipeline_shape(tr, typed, self.patients))
        return m

    def _detector_drain(self, work_dir: str) -> dict:
        """The stateful detector alone, one windowed-vitals file per
        micro-batch, against the batch operator on the same input."""
        path = os.path.join(self.dir, "windowed")
        schema = self.spark.read.parquet(path).schema
        src = self.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
        det = streaming_detect_anomalies(with_default_watermark(src, "event_timestamp"),
                                         value_col="observed_value", ts_col="event_timestamp",
                                         key_col="patient_id")
        out = os.path.join(work_dir, f"detect-{uuid.uuid4().hex[:8]}")
        q = (det.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", out + "_ckpt").trigger(availableNow=True).start())
        q.awaitTermination()
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
        last = prog[-1].stateOperators
        keys = sum(o.numRowsTotal for o in last)
        batch = ml_detect_anomalies(self.spark.read.parquet(path), output_col="report", **ML_ARGS)
        joined = self.spark.read.parquet(out).join(
            batch.select(F.col("patient_id").cast("long").alias("key"), "event_timestamp",
                         F.col("report.is_anomaly").alias("batch_is_anomaly")),
            ["key", "event_timestamp"],
        )
        return {
            "streaming.stateful.detect.batch_ms_p50": statistics.median(
                p.durationMs.get("triggerExecution", 0) for p in prog),
            "streaming.stateful.detect.state_bytes_per_key": sum(o.memoryUsedBytes for o in last) / keys,
            "streaming.stateful.detect.verdict_flips_vs_batch": joined.filter(
                F.col("is_anomaly") != F.col("batch_is_anomaly")).count(),
        }


WORKLOADS = {w.name: w for w in (KafkaFleet, StreamReplay)}
