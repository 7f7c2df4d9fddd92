"""Seeded input generator for the paper-path benchmark.

Every input is a file the program reads; nothing is handed over as an
in-memory frame.  Inputs are built with pandas/pyarrow only (no Spark), so
their cost never lands in a timed region, and are cached on disk under
``perfbench/_work/inputs/<workload>-<size>-s<seed>``: the same
(workload, size, seed) always yields byte-identical files.

Layout of one input directory:

- ``events/``         time-ordered events parquet (nested
                      HEALTH_EVENT_SCHEMA), one file per time slice
- ``windowed/``       1 s per-patient mean heart rate (S4's first CTE,
                      computed in pandas), in ``detect_files`` time slices
- ``topic/``          recorded 3-partition Kafka topic in the
                      ``kafka_sim`` layout: one parquet file per
                      partition of (partition, offset, key, value,
                      timestamp_us), values Confluent-framed Avro
- ``patients.parquet`` the dimension; ids listed in ``meta.json`` under
                      ``unknown_ids`` are left out of it on purpose
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime

import numpy as np

from health_monitor_cc_flink_spark import fixtures
from health_monitor_cc_flink_spark.schemas import HEALTH_EVENT_SCHEMA, PATIENTS_ROWS
from health_monitor_cc_flink_spark.sources.avro_codec import confluent_frame, encode_record
from health_monitor_cc_flink_spark.sources.kafka import avro_schema_json

from pyspark.sql import types as T

#: the Avro value schema: the event without event_time, which travels as
#: the Kafka record timestamp ($rowtime)
VALUE_SCHEMA = T.StructType([f for f in HEALTH_EVENT_SCHEMA.fields if f.name != "event_time"])
SCHEMA_ID = 100001
TOPIC_PARTITIONS = 3
START = datetime(2026, 1, 1)
INTERVAL_S = 0.5


def _arrow_events(pdf):
    """Flat fixture frame → pyarrow table in the nested event schema."""
    import pyarrow as pa

    i32 = pa.int32()
    ts = pa.array(pdf["event_time"].values.astype("datetime64[us]"), pa.timestamp("us", tz="UTC"))
    device = pa.StructArray.from_arrays(
        [
            pa.array(pdf["device_type"], pa.string()),
            pa.array(pdf["battery_level"], i32),
            pa.array(pdf["sensor_status"], pa.string()),
        ],
        names=["device_type", "battery_level", "sensor_status"],
    )
    bp = pa.StructArray.from_arrays(
        [pa.array(pdf["systolic"], i32), pa.array(pdf["diastolic"], i32)],
        names=["systolic", "diastolic"],
    )
    vitals = pa.StructArray.from_arrays(
        [
            pa.array(pdf["heart_rate"], i32),
            pa.array(pdf["blood_oxygen_spO2"], i32),
            bp,
            pa.array(pdf["body_temperature_c"], pa.float32()),
        ],
        names=["heart_rate", "blood_oxygen_spO2", "blood_pressure", "body_temperature_c"],
    )
    return pa.Table.from_arrays(
        [ts, pa.array(pdf["event_id"], pa.string()), pa.array(pdf["patient_id"], i32), device, vitals],
        names=["event_time", "event_id", "patient_id", "device_metadata", "vitals"],
    )


def _write_slices(table, time_col: str, out_dir: str, n_files: int) -> None:
    """Split a time-sorted table into ``n_files`` contiguous time slices.
    Slice boundaries fall between distinct timestamps, and file mtimes
    increase with the slice index, because the file stream source orders
    new files by modification time."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    t = np.asarray(table.column(time_col).to_numpy(), dtype="datetime64[us]").astype(np.int64)
    distinct = np.unique(t)
    edges = [distinct[i[0]] for i in np.array_split(np.arange(len(distinct)), n_files)]
    lo = np.searchsorted(t, edges, side="left")
    hi = list(lo[1:]) + [len(t)]
    for i, (a, b) in enumerate(zip(lo, hi)):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(int(a), int(b - a)), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _windowed(pdf):
    """S4's 1 s tumble in pandas: mean heart rate per (patient, second),
    stamped at window_end − 1 ms like the program's windowed_vitals."""
    import pandas as pd
    import pyarrow as pa

    sec = pdf["event_time"].dt.floor("1s")
    w = (
        pdf.assign(_w=sec)
        .groupby(["_w", "patient_id"], sort=True)["heart_rate"]
        .mean()
        .reset_index()
    )
    stamp = (w["_w"] + pd.Timedelta(seconds=1) - pd.Timedelta(milliseconds=1)).values
    return pa.Table.from_arrays(
        [
            pa.array(w["patient_id"].astype(np.int32)),
            pa.array(stamp.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            pa.array(w["heart_rate"].astype(np.float64)),
        ],
        names=["patient_id", "event_timestamp", "observed_value"],
    )


def _record(row) -> dict:
    return {
        "event_id": row.event_id,
        "patient_id": int(row.patient_id),
        "device_metadata": {
            "device_type": row.device_type,
            "battery_level": int(row.battery_level),
            "sensor_status": row.sensor_status,
        },
        "vitals": {
            "heart_rate": int(row.heart_rate),
            "blood_oxygen_spO2": int(row.blood_oxygen_spO2),
            "blood_pressure": {"systolic": int(row.systolic), "diastolic": int(row.diastolic)},
            "body_temperature_c": float(row.body_temperature_c),
        },
    }


def _write_topic(pdf, out_dir: str) -> None:
    """Confluent-framed Avro records keyed by patient id, partitioned by
    ``patient_id % 3`` and offset in event-time order within a partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    schema_json = avro_schema_json(VALUE_SCHEMA)
    ts_us = pdf["event_time"].values.astype("datetime64[us]").astype(np.int64)
    part = (pdf["patient_id"].values % TOPIC_PARTITIONS).astype(np.int32)
    values = [confluent_frame(encode_record(schema_json, _record(r)), SCHEMA_ID) for r in pdf.itertuples()]
    keys = [str(int(p)).encode() for p in pdf["patient_id"].values]
    for p in range(TOPIC_PARTITIONS):
        idx = np.flatnonzero(part == p)
        table = pa.table(
            {
                "partition": pa.array(np.full(len(idx), p, np.int32)),
                "offset": pa.array(np.arange(len(idx), dtype=np.int64)),
                "key": pa.array([keys[i] for i in idx], pa.binary()),
                "value": pa.array([values[i] for i in idx], pa.binary()),
                "timestamp_us": pa.array(ts_us[idx]),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"partition-{p}.parquet"))


def _patients(n_patients: int, unknown: list[int]):
    """The dimension: the reference's 10 rows, then synthetic rows, minus
    the unknown ids."""
    import pyarrow as pa

    rows = list(PATIENTS_ROWS) + [
        (pid, f"Patient {pid:04d}", 20 + (pid * 37) % 70) for pid in range(11, n_patients + 1)
    ]
    rows = [r for r in rows if r[0] <= n_patients and r[0] not in unknown]
    return pa.table(
        {
            "patient_id": pa.array([r[0] for r in rows], pa.int32()),
            "name": pa.array([r[1] for r in rows], pa.string()),
            "age": pa.array([r[2] for r in rows], pa.int32()),
        }
    )


def build(out_dir: str, seed: int, n_patients: int, n_ticks: int, n_files: int,
          n_unknown: int, topic: bool, detect_files: int = 0) -> None:
    import pyarrow.parquet as pq

    pdf = fixtures.generate_health_events_pdf(
        n_ticks=n_ticks, interval_s=INTERVAL_S, seed=seed, start=START,
        patient_ids=tuple(range(1, n_patients + 1)),
    )
    pdf = pdf.sort_values(["event_time", "patient_id"], kind="mergesort").reset_index(drop=True)
    _write_slices(_arrow_events(pdf), "event_time", os.path.join(out_dir, "events"), n_files)
    if detect_files:
        _write_slices(_windowed(pdf), "event_timestamp", os.path.join(out_dir, "windowed"), detect_files)
    if topic:
        _write_topic(pdf, os.path.join(out_dir, "topic"))
    # unknown ids: drawn from the seed, never the fault patient
    rng = np.random.default_rng(seed + 1)
    unknown = sorted(int(x) for x in rng.choice(np.arange(2, n_patients + 1), n_unknown, replace=False))
    pq.write_table(_patients(n_patients, unknown), os.path.join(out_dir, "patients.parquet"))
    meta = {"seed": seed, "events": len(pdf), "patients": n_patients, "ticks": n_ticks,
            "files": n_files, "unknown_ids": unknown}
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)


def ensure(cache_root: str, name: str, seed: int, **size) -> tuple[str, dict]:
    """Return (directory, meta) of the cached input, building it first if
    absent.  The build runs in a child process, so its memory never counts
    toward the benchmark process's peak RSS.  A half-built directory never
    becomes visible: the input is written to a temporary sibling and
    renamed into place."""
    key = "-".join(f"{k}{int(v)}" for k, v in sorted(size.items()))
    final = os.path.join(cache_root, f"{name}-{key}-s{seed}")
    if not os.path.exists(os.path.join(final, "meta.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        subprocess.run([sys.executable, os.path.abspath(__file__), tmp, str(seed), json.dumps(size)],
                       check=True)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(os.path.join(final, "meta.json")) as f:
        return final, json.load(f)


if __name__ == "__main__":
    build(sys.argv[1], int(sys.argv[2]), **json.loads(sys.argv[3]))
