"""Lake-format metadata interop (UniForm/XTable direction pair):
same data files, translated metadata, row-accurate through DVs."""

import json

import pytest

from health_monitor_cc_flink_spark.operators.delta_log import (
    build_delta_log,
    build_dv_file,
    parse_delta_log_files,
)
from health_monitor_cc_flink_spark.operators.iceberg import (
    walk_snapshot_v2,
)
from health_monitor_cc_flink_spark.operators.interop import (
    delta_to_iceberg,
    iceberg_to_delta,
)
from health_monitor_cc_flink_spark.operators.roaring import (
    serialize_bitmap_array,
)


def _delta_with_dv():
    bm = serialize_bitmap_array([1, 3, 5])
    dv_bin, offs = build_dv_file([bm])
    files = build_delta_log({0: [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "src"}},
        {"add": {"path": "lang=en/a.parquet", "size": 11,
                 "partitionValues": {"lang": "en"},
                 "stats": json.dumps({"numRecords": 10}),
                 "deletionVector": {
                     "storageType": "p",
                     "pathOrInlineDv": "dv0.bin",
                     "offset": offs[0], "sizeInBytes": len(bm),
                     "cardinality": 3}}},
        {"add": {"path": "b.parquet", "size": 22,
                 "partitionValues": {},
                 "stats": json.dumps({"numRecords": 5})}},
    ]})
    files["dv0.bin"] = dv_bin
    return files


def test_delta_to_iceberg_to_delta_roundtrip():
    delta = _delta_with_dv()
    dsnap = parse_delta_log_files(delta)
    ice = delta_to_iceberg(delta)
    isnap = walk_snapshot_v2(ice)
    assert {f["file_path"]: f["live_records"]
            for f in isnap["live"]} == \
        {p: e["live_records"] for p, e in dsnap["live"].items()}
    # partition tuple carried
    by = {f["file_path"]: f for f in isnap["live"]}
    assert by["lang=en/a.parquet"]["lang"] == "en"
    back = iceberg_to_delta(ice)
    bsnap = parse_delta_log_files(back)
    key = lambda s: {p: (e["num_records"], e["live_records"],
                         e["partition_values"])
                     for p, e in s["live"].items()}
    assert key(bsnap) == key(dsnap)
    # the translated Delta table advertises the DV feature
    assert "deletionVectors" in \
        bsnap["protocol"]["readerFeatures"]


def test_delta_without_stats_refuses():
    files = build_delta_log({0: [
        {"metaData": {"id": "t"}},
        {"add": {"path": "a.parquet", "size": 1}},  # no stats
    ]})
    with pytest.raises(ValueError, match="numRecords"):
        delta_to_iceberg(files)


def test_iceberg_parquet_position_deletes_refuse():
    """Only DV deletes translate (parquet position rows would need
    a rewrite) — the boundary is loud, not lossy."""
    from health_monitor_cc_flink_spark.operators.iceberg import (
        STATUS_ADDED,
        build_snapshot_v2,
    )

    files = build_snapshot_v2(
        [[{"status": STATUS_ADDED, "file_path": "data/a.parquet",
           "file_format": "PARQUET", "record_count": 10,
           "file_size_in_bytes": 1, "lang": "en"}]],
        [[("data/a.parquet", 0)]])
    with pytest.raises(ValueError, match="rewrite"):
        iceberg_to_delta(files)
