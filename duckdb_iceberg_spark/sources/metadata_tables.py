"""Metadata-inspection table functions as DataFrames.

Schemas mirror the reference's table functions:
- iceberg_snapshots   (reference: src/function/metadata/iceberg_snapshots.cpp:77-100)
- iceberg_metadata    (reference: src/function/metadata/iceberg_metadata.cpp:119-123)
- iceberg_column_stats (reference: src/function/metadata/iceberg_column_stats.cpp:79-116)
- iceberg_partition_stats (reference: src/function/metadata/iceberg_partition_stats.cpp:77-111)

These are driver-parsed metadata (small) lifted into DataFrames so they
compose with Spark SQL. At huge-manifest scale the same Avro bytes can be
read distributed; the planner API returns the raw entries for that path.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog.commit import resolve_table
from ..metadata import manifest as mf
from ..metadata import types as ice_types
from ..plans.scan_plan import _localize
from ..plans import transforms as tr


def iceberg_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """(sequence_number, snapshot_id, timestamp_ms, manifest_list, operation)."""
    tm = resolve_table(path).metadata
    schema = T.StructType([
        T.StructField("sequence_number", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("timestamp_ms", T.TimestampType()),
        T.StructField("manifest_list", T.StringType()),
        T.StructField("operation", T.StringType()),
    ])
    rows = [
        (
            s.sequence_number,
            s.snapshot_id,
            _dt.datetime.fromtimestamp(s.timestamp_ms / 1000, tz=_dt.timezone.utc),
            # legacy v1 embedded-manifest snapshots have no manifest list —
            # NULL, matching the reference (iceberg_v1_deprecated_metadata.test)
            s.manifest_list or None,
            s.operation,
        )
        for s in tm.snapshots
    ]
    return spark.createDataFrame(rows, schema)


def describe_table(spark: SparkSession, path: str) -> DataFrame:
    """(column_name, column_type, nullable, comment, default) for the
    current schema, nested fields flattened as dotted paths — the
    reference surfaces the same through DESCRIBE / duckdb_columns()
    (alter_column_comment.test:42-48 queries column_name+comment;
    test_column_doc_comment.test). ``default`` renders the effective
    insert default (write-default, falling back to initial-default)."""
    tm = resolve_table(path).metadata
    schema = T.StructType([
        T.StructField("column_name", T.StringType()),
        T.StructField("column_type", T.StringType()),
        T.StructField("nullable", T.BooleanType()),
        T.StructField("comment", T.StringType()),
        T.StructField("default", T.StringType()),
    ])

    def _type_str(t: Any) -> str:
        if isinstance(t, str):
            return t
        kind = t.get("type")
        if kind == "struct":
            inner = ", ".join(
                f"{f['name']}: {_type_str(f['type'])}" for f in t["fields"])
            return f"struct<{inner}>"
        if kind == "list":
            return f"list<{_type_str(t['element'])}>"
        if kind == "map":
            return f"map<{_type_str(t['key'])}, {_type_str(t['value'])}>"
        return str(kind)

    rows: list[tuple] = []

    def _walk(fields: list[dict], prefix: str) -> None:
        for f in fields:
            name = prefix + f["name"]
            dv = f.get("write-default", f.get("initial-default"))
            rows.append((name, _type_str(f["type"]), not f.get("required"),
                         f.get("doc"), None if dv is None else str(dv)))
            if isinstance(f["type"], dict) and f["type"].get("type") == "struct":
                _walk(f["type"]["fields"], name + ".")

    _walk(tm.schema_json()["fields"], "")
    return spark.createDataFrame(rows, schema)


def iceberg_metadata(spark: SparkSession, path: str, **scan_opts) -> DataFrame:
    """Manifest entries of the selected snapshot — reference schema
    (iceberg_metadata.cpp IcebergManifestNames/EntryNames):
    (manifest_path, manifest_sequence_number, manifest_content, status,
    content, file_path, file_format, record_count, data_sequence_number,
    file_sequence_number) plus file_size_in_bytes (ours, extra, last)."""
    from ..plans.scan_plan import manifests_for_snapshot

    tm = resolve_table(path).metadata
    snap = tm.select_snapshot(**scan_opts)
    schema = T.StructType([
        T.StructField("manifest_path", T.StringType()),
        T.StructField("manifest_sequence_number", T.LongType()),
        T.StructField("manifest_content", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("file_format", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("data_sequence_number", T.LongType()),
        T.StructField("file_sequence_number", T.LongType()),
        T.StructField("file_size_in_bytes", T.LongType()),
    ])
    rows = []
    status_names = {0: "EXISTING", 1: "ADDED", 2: "DELETED"}
    content_names = {0: "DATA", 1: "POSITION_DELETES", 2: "EQUALITY_DELETES"}
    if snap is not None and (snap.manifest_list or snap.manifests):
        for m in manifests_for_snapshot(tm, snap):
            for e in mf.read_manifest(_localize(tm, m.manifest_path)):
                # sequence-number inheritance: ADDED entries with null seq
                # inherit the manifest's (spec; reference GetSequenceNumber)
                seq = e.sequence_number
                if seq is None:
                    seq = m.sequence_number if e.status == mf.STATUS_ADDED else 0
                fseq = e.file_sequence_number
                if fseq is None:
                    fseq = m.sequence_number if e.status == mf.STATUS_ADDED else 0
                rows.append(
                    (
                        m.manifest_path,
                        m.sequence_number,
                        "DATA" if m.content == mf.MANIFEST_DATA else "DELETE",
                        status_names.get(e.status, str(e.status)),
                        content_names.get(e.data_file.content, str(e.data_file.content)),
                        e.data_file.file_path,
                        e.data_file.file_format,
                        e.data_file.record_count,
                        seq,
                        fseq,
                        e.data_file.file_size_in_bytes,
                    )
                )
    return spark.createDataFrame(rows, schema)


def iceberg_column_stats(spark: SparkSession, path: str, **scan_opts) -> DataFrame:
    """Per data-file per-column stats (reference schema,
    iceberg_column_stats.cpp:79-116); bounds rendered as strings."""
    tm = resolve_table(path).metadata
    snap = tm.select_snapshot(**scan_opts)
    schema = T.StructType([
        T.StructField("status", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("column_id", T.IntegerType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("column_type", T.StringType()),
        T.StructField("lower_bound", T.StringType()),
        T.StructField("upper_bound", T.StringType()),
        T.StructField("column_size", T.LongType()),
        T.StructField("value_count", T.LongType()),
        T.StructField("null_value_count", T.LongType()),
        T.StructField("nan_value_count", T.LongType()),
        T.StructField("file_sequence_number", T.LongType()),
    ])
    rows = []
    status_names = {0: "EXISTING", 1: "ADDED", 2: "DELETED"}
    if snap is not None and snap.manifest_list:
        sid = snap.schema_id if snap.schema_id is not None else tm.current_schema_id
        fields = tm.schemas[sid]["fields"]
        for m in mf.read_manifest_list(_localize(tm, snap.manifest_list)):
            if m.content != mf.MANIFEST_DATA:
                continue
            for e in mf.read_manifest(_localize(tm, m.manifest_path)):
                if e.status == mf.STATUS_DELETED:
                    continue
                df = e.data_file
                for f in fields:
                    fid = f["id"]
                    lo = (df.lower_bounds or {}).get(fid)
                    hi = (df.upper_bounds or {}).get(fid)
                    rows.append(
                        (
                            status_names.get(e.status, str(e.status)),
                            "DATA",
                            df.file_path,
                            fid,
                            f["name"],
                            f["type"] if isinstance(f["type"], str) else f["type"]["type"],
                            _render(f["type"], lo),
                            _render(f["type"], hi),
                            (df.column_sizes or {}).get(fid),
                            (df.value_counts or {}).get(fid),
                            (df.null_value_counts or {}).get(fid),
                            (df.nan_value_counts or {}).get(fid),
                            e.file_sequence_number,
                        )
                    )
    return spark.createDataFrame(rows, schema)


def _render(t: Any, b: bytes | None) -> str | None:
    if b is None:
        return None
    if isinstance(t, str) and ice_types.primitive_name(t) == "geometry":
        # no scalar min/max exists for geometry: render the bounding-box
        # corner as the reference's JSON object (iceberg_column_stats.cpp
        # GeometryBoundJson — keys bbox_x/bbox_y/bbox_z/bbox_m, absent axes
        # null) so callers can ->> '$.bbox_x' it
        corner = ice_types.decode_geometry_bound(b)
        if corner is None:
            return None
        import json as _json

        return _json.dumps({
            "bbox_x": corner["x"], "bbox_y": corner["y"],
            "bbox_z": corner["z"], "bbox_m": corner["m"],
        }, separators=(",", ":"))
    v = ice_types.decode_bound(t, b)
    return None if v is None else str(v)


def iceberg_partition_stats(spark: SparkSession, path: str, **scan_opts) -> DataFrame:
    """Manifest-level partition field summaries (reference schema,
    iceberg_partition_stats.cpp:77-111)."""
    tm = resolve_table(path).metadata
    snap = tm.select_snapshot(**scan_opts)
    schema = T.StructType([
        T.StructField("manifest_path", T.StringType()),
        T.StructField("added_snapshot_id", T.LongType()),
        T.StructField("partition_spec_id", T.IntegerType()),
        T.StructField("partition_field_id", T.IntegerType()),
        T.StructField("partition_field_name", T.StringType()),
        T.StructField("partition_source_column", T.StringType()),
        T.StructField("transform", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("lower_bound", T.StringType()),
        T.StructField("upper_bound", T.StringType()),
        T.StructField("contains_null", T.BooleanType()),
        T.StructField("contains_nan", T.BooleanType()),
    ])
    rows = []
    if snap is not None and snap.manifest_list:
        for m in mf.read_manifest_list(_localize(tm, snap.manifest_list)):
            spec = tm.partition_specs.get(m.partition_spec_id)
            if spec is None:
                continue
            for pf, summ in zip(spec.fields, m.partitions):
                hit = tm.field_path_by_id(pf.source_id)
                src = hit[1] if hit else None
                rt = tr.transform_result_type(pf.transform, src["type"] if src else "string")
                rows.append(
                    (
                        m.manifest_path,
                        m.added_snapshot_id,
                        m.partition_spec_id,
                        pf.field_id,
                        pf.name,
                        src["name"] if src else None,
                        pf.transform,
                        rt if isinstance(rt, str) else None,
                        _render(rt, summ.lower_bound) if rt else None,
                        _render(rt, summ.upper_bound) if rt else None,
                        summ.contains_null,
                        summ.contains_nan,
                    )
                )
    return spark.createDataFrame(rows, schema)


def iceberg_refs(spark: SparkSession, path: str) -> DataFrame:
    """(name, type, snapshot_id, max_ref_age_ms) — branch/tag pointers
    (cf. Iceberg's ``table.refs`` metadata table; the refs map itself is
    the metadata the reference parses into IcebergTableMetadata)."""
    tm = resolve_table(path).metadata
    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("max_ref_age_ms", T.LongType()),
    ])
    rows = [
        (name, r.get("type"), int(r["snapshot-id"]),
         r.get("max-ref-age-ms"))
        for name, r in sorted(tm.refs.items())
    ]
    return spark.createDataFrame(rows, schema)


def iceberg_history(spark: SparkSession, path: str) -> DataFrame:
    """(made_current_at, snapshot_id, parent_id, is_current_ancestor) —
    the snapshot-log lineage view (cf. Iceberg's ``table.history``).
    ``is_current_ancestor`` walks parent pointers from the current
    snapshot, marking entries on the live line of history."""
    tm = resolve_table(path).metadata
    parents = {s.snapshot_id: s.parent_snapshot_id for s in tm.snapshots}
    ancestors: set[int] = set()
    cur = tm.current_snapshot_id
    while cur is not None:
        ancestors.add(cur)
        cur = parents.get(cur)
    schema = T.StructType([
        T.StructField("made_current_at", T.TimestampType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("parent_id", T.LongType()),
        T.StructField("is_current_ancestor", T.BooleanType()),
    ])
    rows = [
        (
            _dt.datetime.fromtimestamp(e["timestamp-ms"] / 1000, tz=_dt.timezone.utc),
            int(e["snapshot-id"]),
            parents.get(int(e["snapshot-id"])),
            int(e["snapshot-id"]) in ancestors,
        )
        for e in tm.snapshot_log
    ]
    return spark.createDataFrame(rows, schema)
