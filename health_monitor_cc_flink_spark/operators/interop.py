"""Lake-format METADATA INTEROP — one copy of the data, every table
format's metadata over it.

Delta Lake's UniForm and Apache XTable both ship exactly this idea
(PUBLIC docs/specs): the parquet data files never move or rewrite;
only the table-format metadata is (re)generated, so a Delta writer's
output is scannable as an Iceberg table and vice versa.  At 100 TB
the alternative — a copy migration — is days of cluster time; the
metadata translation is O(live files) driver work.

* ``delta_to_iceberg`` — replay a ``_delta_log/`` and emit an
  Iceberg v2 snapshot over the SAME data file paths: one data
  manifest of ADDED entries (record counts lifted from the Delta
  stats, partition tuples from partitionValues), and — when the
  Delta table carries DELETION VECTORS — an Iceberg v3 DV delete
  manifest whose Puffin blobs hold the SAME roaring bitmaps
  (the two specs share the bitmap format byte-for-byte, so the
  translation is a re-framing, not a recompute).
* ``iceberg_to_delta`` — walk an Iceberg snapshot and emit the
  Delta commit JSON: adds with numRecords stats and partitionValues
  from the partition tuple; positional deletes / DVs become Delta
  deletion vectors over the same bitmaps.

The registry query certifies the round trip: Delta replay census ==
Iceberg walk census == round-tripped Delta census, row-accurate
through the deletion vectors.  Hostile input raises ``ValueError``.
"""

from __future__ import annotations

import json

from .delta_log import (
    build_delta_log,
    build_dv_file,
    parse_delta_log_files,
    resolve_deletion_vector,
)
from .iceberg import (
    CONTENT_DATA,
    CONTENT_POSITION_DELETES,
    MANIFEST_ENTRY_SCHEMA_V2,
    MANIFEST_LIST_SCHEMA_V2,
    STATUS_ADDED,
    walk_snapshot_v2,
)
from .puffin import DELETION_VECTOR_V1, read_dv_at, serialize_dv_blob
from .roaring import serialize_bitmap_array, z85_encode


def delta_to_iceberg(delta_files: dict[str, bytes], *,
                     snapshot_id: int = 1) -> dict[str, bytes]:
    """Delta ``_delta_log/`` members -> Iceberg snapshot members
    over the same data files (UniForm direction).  Data files
    commit at sequence 1; DV deletes at sequence 2 — the canonical
    MOR history, so Iceberg's scan-planning scoping applies them to
    every translated data file."""
    from ..sources.avro_ocf import write_ocf

    snap = parse_delta_log_files(delta_files)
    out: dict[str, bytes] = {}
    entries = []
    dv_blobs = []
    for path in sorted(snap["live"]):
        e = snap["live"][path]
        lang = (e.get("partition_values") or {}).get("lang")
        entries.append({
            "status": STATUS_ADDED, "snapshot_id": snapshot_id,
            "sequence_number": None,
            "data_file": {
                "content": CONTENT_DATA, "file_path": path,
                "file_format": "PARQUET",
                "partition": {"lang": lang},
                "record_count": e["num_records"],
                "file_size_in_bytes": e.get("size") or 0,
                "equality_ids": None}})
        if e.get("deletion_vector"):
            rows = resolve_deletion_vector(
                e["deletion_vector"], delta_files)
            dv_blobs.append((path, rows))
    if any(e["data_file"]["record_count"] is None
           for e in entries):
        raise ValueError(
            "delta add without numRecords stats cannot translate "
            "(iceberg manifests require record_count)")
    mpath = "metadata/manifest-uniform-0.avro"
    mblob = write_ocf(MANIFEST_ENTRY_SCHEMA_V2, entries,
                      codec="deflate", sync_seed=snapshot_id)
    out[mpath] = mblob
    records = [{
        "manifest_path": mpath, "manifest_length": len(mblob),
        "partition_spec_id": 0, "content": CONTENT_DATA,
        "sequence_number": 1, "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0, "deleted_files_count": 0,
    }]
    if dv_blobs:
        from .puffin import write_puffin

        blobs = [{
            "data": serialize_dv_blob(rows),
            "type": DELETION_VECTOR_V1,
            "snapshot-id": snapshot_id,
            "properties": {"referenced-data-file": path,
                           "cardinality": str(len(rows))},
        } for path, rows in dv_blobs]
        ppath = "data/uniform-dv.puffin"
        pblob = write_puffin(blobs)
        out[ppath] = pblob
        del_entries = [{
            "status": STATUS_ADDED, "snapshot_id": snapshot_id,
            "sequence_number": None,
            "data_file": {
                "content": CONTENT_POSITION_DELETES,
                "file_path": ppath, "file_format": "PUFFIN",
                "partition": {"lang": None},
                "record_count": len(rows),
                "file_size_in_bytes": len(pblob),
                "equality_ids": None,
                "referenced_data_file": path,
                "content_offset": b["offset"],
                "content_size_in_bytes": b["length"],
            }} for (path, rows), b in zip(dv_blobs, blobs)]
        dmpath = "metadata/manifest-uniform-dv.avro"
        dmblob = write_ocf(MANIFEST_ENTRY_SCHEMA_V2, del_entries,
                           codec="deflate",
                           sync_seed=snapshot_id + 1)
        out[dmpath] = dmblob
        records.append({
            "manifest_path": dmpath,
            "manifest_length": len(dmblob),
            "partition_spec_id": 0,
            "content": CONTENT_POSITION_DELETES,
            "sequence_number": 2,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(del_entries),
            "existing_files_count": 0, "deleted_files_count": 0,
        })
    out[f"metadata/snap-{snapshot_id}.avro"] = write_ocf(
        MANIFEST_LIST_SCHEMA_V2, records, codec="deflate",
        sync_seed=snapshot_id + 1000)
    return out


def iceberg_to_delta(iceberg_files: dict[str, bytes], *,
                     snapshot_id: int = 1) -> dict[str, bytes]:
    """Iceberg snapshot members -> Delta ``_delta_log/`` members
    over the same data files (the XTable reverse direction).
    Iceberg DVs / position deletes become Delta deletion vectors:
    the roaring bitmaps transfer into one shared sidecar ``.bin``
    (storage form 'p'), cardinality and row bounds preserved."""
    snap = walk_snapshot_v2(iceberg_files,
                            snapshot_id=snapshot_id)
    # recover per-file deleted positions via the walk's census and
    # a direct re-read of each DV (walk validated them already)
    dv_positions: dict[str, list[int]] = {}
    list_path = f"metadata/snap-{snapshot_id}.avro"
    from ..sources.avro_ocf import read_ocf

    for mf in read_ocf(iceberg_files[list_path])["records"]:
        if mf.get("content", CONTENT_DATA) == CONTENT_DATA:
            continue
        for e in read_ocf(
                iceberg_files[mf["manifest_path"]])["records"]:
            df = e["data_file"]
            if df.get("referenced_data_file") is None:
                raise ValueError(
                    "only DV deletes translate to Delta deletion "
                    "vectors (parquet position deletes: rewrite "
                    "them as DVs first)")
            dv_positions[df["referenced_data_file"]] = read_dv_at(
                iceberg_files[df["file_path"]],
                df["content_offset"],
                df["content_size_in_bytes"])
    actions: list[dict] = [
        {"protocol": ({"minReaderVersion": 3,
                       "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors"],
                       "writerFeatures": ["deletionVectors"]}
                      if dv_positions
                      else {"minReaderVersion": 1,
                            "minWriterVersion": 2})},
        {"metaData": {"id": "xtable-translated"}},
    ]
    out: dict[str, bytes] = {}
    # blob order must match the sorted-by-path add loop below —
    # offsets are consumed positionally
    blobs = [serialize_bitmap_array(dv_positions[p])
             for p in sorted(dv_positions)
             if p in {f["file_path"] for f in snap["live"]}]
    offsets: list[int] = []
    dv_name = None
    if blobs:
        dv_bin, offsets = build_dv_file(blobs)
        dv_name = "deletion_vector_xtable.bin"
        out[dv_name] = dv_bin
    bi = 0
    for f in sorted(snap["live"], key=lambda f: f["file_path"]):
        add = {
            "path": f["file_path"],
            "partitionValues": (
                {"lang": f["lang"]} if f.get("lang") else {}),
            "size": f["file_size_in_bytes"],
            "dataChange": True,
            "stats": json.dumps(
                {"numRecords": f["record_count"]},
                separators=(",", ":")),
        }
        if f["file_path"] in dv_positions:
            add["deletionVector"] = {
                "storageType": "p",
                "pathOrInlineDv": dv_name,
                "offset": offsets[bi],
                "sizeInBytes": len(blobs[bi]),
                "cardinality": len(
                    dv_positions[f["file_path"]]),
            }
            bi += 1
        actions.append({"add": add})
    out.update(build_delta_log({0: actions}))
    return out
