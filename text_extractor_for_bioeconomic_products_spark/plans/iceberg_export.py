"""Iceberg-v2 spec-SHAPED metadata export for the versioned table.

`plans/versioned.py` implements Iceberg's SEMANTICS (atomic snapshot
commit, copy-on-write keyed merge, time travel, metadata-only
rollback) over parquet + JSON manifests.  This module exports that
chain in the Apache Iceberg v2 metadata LAYOUT — the published spec's
file structure, not a private analog:

    iceberg/metadata/v{N}.metadata.json       one per snapshot; the
                                              highest N is the current
                                              table metadata
    iceberg/metadata/snap-{N}-manifest-list.avro
                                              one manifest-list per
                                              snapshot (Avro OCF, the
                                              spec's manifest_file
                                              record with its field-ids)
    iceberg/metadata/manifest-{N}.avro        one manifest per snapshot
                                              (manifest_entry records:
                                              status added/existing,
                                              data_file with real
                                              parquet record counts and
                                              byte sizes from footers)

Honest boundary, stated plainly: no Iceberg reader exists in this
container (no pyiceberg, no spark-iceberg jar), so compliance is
STRUCTURAL — the JSON keys, the two-level manifest-list → manifest →
data-file indirection, sequence numbers, snapshot log, field-ids on
the Avro manifest schemas, and schema JSON follow the published v2
spec and are pinned by tests against this module's own reader
(`sources/avro.py`); a real catalog has not validated them.  Snapshot
ids are the version numbers (deterministic; the spec only requires a
unique long).  Column stats, delete files, and sort orders are omitted
(all optional in the spec).

Reference analog: the SQLite store (`src/storage/database.py:188-253`)
keeps no history at all; this export is where the engine's history
becomes a standard on-disk table format other tools could adopt.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from ..sources.avro import write_avro_bytes
from .versioned import _abs, _manifest, _meta_dir

# --- the spec's manifest_file record (manifest lists), v2 field-ids ---
MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

# --- the spec's manifest_entry record (manifests), v2 field-ids ---
MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "partition", "field-id": 102, "type": {
                    "type": "record", "name": "partition", "fields": [
                        {"name": "bucket", "type": ["null", "int"],
                         "field-id": 1000},
                    ],
                }},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
            ],
        }},
    ],
}


def _iceberg_schema_of(arrow_schema: pa.Schema) -> dict:
    """pyarrow schema → Iceberg schema JSON (struct/list nesting, spec
    type names, depth-first unique field-ids)."""
    next_id = [0]

    def fid() -> int:
        next_id[0] += 1
        return next_id[0]

    def conv(t: pa.DataType) -> object:
        if pa.types.is_struct(t):
            return {"type": "struct", "fields": [
                field(t.field(i)) for i in range(t.num_fields)
            ]}
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            eid = fid()
            return {
                "type": "list", "element-id": eid,
                "element": conv(t.value_type),
                "element-required": False,
            }
        if pa.types.is_timestamp(t):
            # Spark's TimestampType, written as INT64 micros adjusted to
            # UTC (session.get_spark), reads back zoned: timestamptz
            return "timestamptz" if t.tz else "timestamp"
        for pred, name in (
            (pa.types.is_string, "string"),
            (pa.types.is_large_string, "string"),
            (pa.types.is_int32, "int"),
            (pa.types.is_int64, "long"),
            (pa.types.is_float32, "float"),
            (pa.types.is_float64, "double"),
            (pa.types.is_boolean, "boolean"),
            (pa.types.is_binary, "binary"),
            (pa.types.is_large_binary, "binary"),
            (pa.types.is_date32, "date"),
        ):
            if pred(t):
                return name
        raise NotImplementedError(f"no Iceberg mapping for arrow type {t}")

    def field(f: pa.Field) -> dict:
        i = fid()
        return {"id": i, "name": f.name, "required": not f.nullable,
                "type": conv(f.type)}

    fields = [field(arrow_schema.field(i)) for i in range(len(arrow_schema))]
    return {"type": "struct", "schema-id": 0, "fields": fields,
            "_last_column_id": next_id[0]}


def _parquet_members(path: str) -> list:
    """A versioned-table 'data file' is a Spark parquet output DIR
    (coalesce(1) keeps one part inside); resolve to the real files."""
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            out.extend(os.path.join(root, fn) for fn in files
                       if fn.endswith(".parquet"))
        return sorted(out)
    return [path]


def _parquet_stats(path: str) -> tuple:
    """(record_count, file_size_in_bytes) from the real parquet
    footers — no data scanned."""
    rows = size = 0
    for fp in _parquet_members(path):
        rows += pq.ParquetFile(fp).metadata.num_rows
        size += os.path.getsize(fp)
    return rows, size


def _union_schema(paths: list) -> pa.Schema:
    """By-name union of the files' parquet schemas, first-seen order,
    first-seen type (the versioned table's mergeSchema discipline;
    conflicting types were already refused at commit time)."""
    seen: dict = {}
    order: list = []
    for p in paths:
        for fp in _parquet_members(p):
            sch = pq.ParquetFile(fp).schema_arrow
            for f in sch:
                if f.name not in seen:
                    seen[f.name] = f
                    order.append(f.name)
    return pa.schema([seen[n] for n in order])


def export_iceberg_metadata(table_dir: str, out_dir: str | None = None) -> dict:
    """Export the whole snapshot chain as Iceberg-v2-shaped metadata.

    Returns a census: {n_snapshots, current_snapshot_id, files,
    metadata_dir}.  Re-export is deterministic for an unchanged table
    (Avro payloads are byte-stable; timestamps come from the committed
    manifests' mtimes, not the export clock)."""
    md = _meta_dir(table_dir)
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(md)
        if f.startswith("v") and f.endswith(".json")
    )
    if not versions:
        raise ValueError(f"no versioned manifests under {table_dir!r}")
    out = out_dir or os.path.join(table_dir, "iceberg", "metadata")
    os.makedirs(out, exist_ok=True)
    table_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, os.path.abspath(table_dir)))
    location = os.path.abspath(table_dir)

    # table schema (schema-id 0): by-name union over the CURRENT
    # snapshot's files — needed up front because the spec requires it
    # in every manifest's OCF header metadata
    cur = versions[-1]
    cur_files = [
        _abs(table_dir, f)
        for fs in _manifest(table_dir, cur)["buckets"].values() for f in fs
    ]
    schema = _iceberg_schema_of(_union_schema(sorted(set(cur_files))))
    last_col = schema.pop("_last_column_id")
    bucket_source = next(
        (f["id"] for f in schema["fields"] if f["name"] == "conv_id"),
        schema["fields"][0]["id"],
    )
    partition_spec_fields = [{
        "name": "bucket", "transform": "bucket[8]",
        "source-id": bucket_source, "field-id": 1000,
    }]

    snapshots, snapshot_log, metadata_log, written = [], [], [], []
    for v in versions:
        man = _manifest(table_dir, v)
        ts_ms = int(os.path.getmtime(os.path.join(md, f"v{v}.json")) * 1000)
        file_bucket = {
            f: int(b) for b, fs in man["buckets"].items() for f in fs
        }
        files = sorted(file_bucket)
        added = set(man.get("new_files", []))
        entries, n_added, n_exist, rows_added, rows_exist = [], 0, 0, 0, 0
        for f in files:
            n_rows, n_bytes = _parquet_stats(_abs(table_dir, f))
            is_added = f in added
            n_added += is_added
            n_exist += not is_added
            rows_added += n_rows if is_added else 0
            rows_exist += 0 if is_added else n_rows
            entries.append({
                "status": 1 if is_added else 0,  # 1=ADDED, 0=EXISTING
                "snapshot_id": v if is_added else None,
                "sequence_number": v if is_added else None,
                "file_sequence_number": v if is_added else None,
                "data_file": {
                    "content": 0,  # 0=DATA (no delete files here)
                    "file_path": f,
                    "file_format": "PARQUET",
                    "partition": {"bucket": file_bucket[f]},
                    "record_count": n_rows,
                    "file_size_in_bytes": n_bytes,
                },
            })
        manifest_name = f"manifest-{v}.avro"
        manifest_bytes = write_avro_bytes(
            [tuple(e[k] for k in (
                "status", "snapshot_id", "sequence_number",
                "file_sequence_number", "data_file")) for e in entries],
            MANIFEST_ENTRY_SCHEMA,
            extra_meta={  # the spec's required manifest header keys
                "schema": json.dumps(schema, sort_keys=True),
                "schema-id": "0",
                "partition-spec": json.dumps(
                    partition_spec_fields, sort_keys=True),
                "partition-spec-id": "0",
                "format-version": "2",
                "content": "data",
            },
        )
        with open(os.path.join(out, manifest_name), "wb") as fh:
            fh.write(manifest_bytes)
        written.append(manifest_name)

        list_name = f"snap-{v}-manifest-list.avro"
        list_bytes = write_avro_bytes(
            [(manifest_name, len(manifest_bytes), 0, 0, v,
              min(versions), v, n_added, n_exist, 0,
              rows_added, rows_exist, 0)],
            MANIFEST_FILE_SCHEMA,
            extra_meta={  # the spec's manifest-list header keys
                "snapshot-id": str(v),
                "parent-snapshot-id": str(man.get("parent") or "null"),
                "sequence-number": str(v),
                "format-version": "2",
            },
        )
        with open(os.path.join(out, list_name), "wb") as fh:
            fh.write(list_bytes)
        written.append(list_name)

        snapshots.append({
            "snapshot-id": v,
            **({"parent-snapshot-id": man["parent"]}
               if man.get("parent") else {}),
            "sequence-number": v,
            "timestamp-ms": ts_ms,
            "manifest-list": list_name,
            "summary": {
                "operation": ("replace" if man.get("rolled_back_to")
                              or not man.get("new_files") else "overwrite"),
            },
            "schema-id": 0,
        })
        snapshot_log.append({"snapshot-id": v, "timestamp-ms": ts_ms})

    for v in versions:
        doc = {
            "format-version": 2,
            "table-uuid": table_uuid,
            "location": location,
            "last-sequence-number": v,
            "last-updated-ms": next(
                s["timestamp-ms"] for s in snapshots if s["snapshot-id"] == v
            ),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{
                "spec-id": 0,
                "fields": partition_spec_fields,
            }],
            "last-partition-id": 1000,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": v,
            "refs": {"main": {"snapshot-id": v, "type": "branch"}},
            "snapshots": [s for s in snapshots if s["snapshot-id"] <= v],
            "snapshot-log": [
                e for e in snapshot_log if e["snapshot-id"] <= v
            ],
            "metadata-log": list(metadata_log),
        }
        name = f"v{v}.metadata.json"
        with open(os.path.join(out, name), "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        metadata_log.append({
            "metadata-file": name,
            "timestamp-ms": doc["last-updated-ms"],
        })
        written.append(name)

    return {
        "n_snapshots": len(versions),
        "current_snapshot_id": cur,
        "files": sorted(written),
        "metadata_dir": out,
    }


def read_iceberg_snapshot(
    spark, metadata_dir: str, snapshot_id: int | None = None,
):
    """Read a snapshot THROUGH the exported Iceberg metadata — the
    consumer side of the layout: pick the highest v{N}.metadata.json
    (or the requested snapshot), follow its manifest-list Avro to the
    manifest Avro, collect the data_file paths, and read exactly those
    parquet files (mergeSchema, matching the versioned table's
    schema-evolution contract).  The chain itself is the access path —
    nothing consults `meta/v{N}.json` — so the test equality
    `read_iceberg_snapshot(...) == read_version(...)` pins that the
    exported metadata is complete, not merely well-formed."""
    from ..sources.avro import read_avro_bytes

    docs = sorted(
        int(f[1:-14]) for f in os.listdir(metadata_dir)
        if f.startswith("v") and f.endswith(".metadata.json")
    )
    if not docs:
        raise ValueError(f"no Iceberg metadata under {metadata_dir!r}")
    with open(os.path.join(metadata_dir, f"v{docs[-1]}.metadata.json")) as fh:
        doc = json.load(fh)
    sid = doc["current-snapshot-id"] if snapshot_id is None else snapshot_id
    snap = next(
        (s for s in doc["snapshots"] if s["snapshot-id"] == sid), None
    )
    if snap is None:
        raise ValueError(f"snapshot {sid} not in the metadata chain")
    with open(os.path.join(metadata_dir, snap["manifest-list"]), "rb") as fh:
        _s, manifest_files = read_avro_bytes(fh.read())
    paths = []
    for mrow in manifest_files:
        with open(os.path.join(metadata_dir, mrow[0]), "rb") as fh:
            _s2, entries = read_avro_bytes(fh.read())
        for e in entries:
            if e[0] != 2:  # 2=DELETED (never emitted here, spec value)
                paths.append(os.path.join(
                    doc["location"], e[4]["file_path"]))
    return (
        spark.read.option("mergeSchema", True).parquet(*sorted(set(paths)))
    )
